"""Cross-corpus curation operators (SURVEY §7 extension scope).

Beyond the per-document signals in text.py / analysis.py: the
operations that look ACROSS documents or ACROSS corpus snapshots —
incremental dedup against an existing corpus, cross-document
boilerplate detection, stratified rebalancing, character-entropy
quality scoring, event-sequence and snapshot analytics (retention
cohorts, transition counts, CDC diff) — plus two engine-surface gaps
(explicit salted skew join, cogrouped applyInPandas).

All entries are driver-oracle-gated (exact SQL twin in DuckDB).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_taxi_data_clickhouse_spark.operators.dedup import (
    normalize_text,
    shingles_from_tokens,
)
from nyc_taxi_data_clickhouse_spark.operators.text import tokens
from nyc_taxi_data_clickhouse_spark.plans.scale import salted_join
from nyc_taxi_data_clickhouse_spark.suite import load_events, load_table, register


@register(
    "dedup_incremental",
    r"""
    WITH corpus AS (
      SELECT regexp_replace(lower(trim(text)), '[ \t\n\x0B\f\r]+', ' ', 'g') AS norm
      FROM documents WHERE doc_id % 5 <> 4),
    batch AS (
      SELECT doc_id, lang,
             regexp_replace(lower(trim(text)), '[ \t\n\x0B\f\r]+', ' ', 'g') AS norm
      FROM documents WHERE doc_id % 5 = 4)
    SELECT b.doc_id, b.lang FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.norm = b.norm)
    """,
    doc="§7 dedup: INCREMENTAL cross-corpus dedup — a new ingest batch "
    "(every 5th doc here) is admitted only if its normalized text is "
    "absent from the existing corpus.  The streaming-ingest shape of "
    "exact dedup: at 100 TB the corpus side is a pre-materialized "
    "fingerprint table (128-bit md5 of the normalized text — 16 bytes "
    "shuffled per doc instead of the full text; collision odds "
    "~n²/2^129, safe at any corpus size, unlike 64-bit keys which "
    "expect collisions past ~10^9 docs), the batch side left-anti "
    "joins against it, and only NEW fingerprints append back — the "
    "corpus is never rescanned.  A bloom filter over the fingerprint "
    "column prunes the probe further when the corpus side is cold "
    "storage.  One anti-join shuffle on the 16-byte key; no windows",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(normalize_text("text")).alias("__fp")
    corpus = docs.filter(F.col("doc_id") % 5 != 4).select(fp)
    batch = docs.filter(F.col("doc_id") % 5 == 4).select("doc_id", "lang", fp)
    return batch.join(corpus, "__fp", "left_anti").select("doc_id", "lang")


@register(
    "boilerplate_ngram_df",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+') AS t
      FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, len(t) - 2),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
      FROM toks WHERE len(t) >= 3),
    df AS (SELECT s, count(*) AS c FROM sh GROUP BY s),
    pd AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
      FROM sh JOIN df USING (s) GROUP BY doc_id)
    SELECT d.doc_id, coalesce(pd.n_grams, 0) AS n_grams,
           round(pd.n_shared * 1.0 / pd.n_grams, 4) AS shared_frac
    FROM documents d LEFT JOIN pd USING (doc_id)
    """,
    doc="§7 quality: cross-document boilerplate detection — per doc, "
    "the fraction of its distinct 3-grams that also occur in at least "
    "one OTHER document (document frequency >= 2).  The complement of "
    "text_repetition (within-doc): high shared_frac means template/"
    "chrome text duplicated across the corpus, the Dolma/CCNet "
    "paragraph-df signal at n-gram grain.  Shape: distinct-shingle "
    "explode -> df hash-agg keyed by the shingle -> join back -> "
    "per-doc agg.  The df table is the same artifact the "
    "cap_shingle_df skew guard computes, so a production pipeline "
    "derives both from ONE pass; the join back is shingle-keyed with "
    "map-side partial combine absorbing hot grams.  Shingle keys "
    "shuffle as xxhash64 longs at scale (collision-tolerant here: a "
    "collision only perturbs a df count), strings in this entry so "
    "the oracle is engine-portable.  Docs under 3 tokens keep "
    "n_grams=0 with NULL fraction",
)
def boilerplate_ngram_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", tokens("text").alias("__t")).filter(
        F.size("__t") >= 3
    )
    sh = base.select(
        "doc_id", F.explode(shingles_from_tokens(F.col("__t"), 3)).alias("__s")
    )
    df = sh.groupBy("__s").agg(F.count("*").alias("__c"))
    per_doc = (
        sh.join(df, "__s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("__c") >= 2).cast("long")).alias("__n_shared"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.round(F.col("__n_shared") / F.col("n_grams"), 4).alias("shared_frac"),
        )
    )


# per-lang keep rates out of 100: rebalance an en-heavy corpus by
# downsampling en to 40% and fr to 75%, keeping the rest whole
_STRATA_RATES = {"en": 40, "fr": 75}


@register(
    "sample_stratified",
    """
    WITH t AS (
      SELECT lang,
             ((doc_id % 1000003) * 2654435761) % 100 AS bucket,
             CASE lang WHEN 'en' THEN 40 WHEN 'fr' THEN 75 ELSE 100 END AS rate
      FROM documents)
    SELECT lang, count(*) AS n_total,
           CAST(sum(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM t GROUP BY lang
    """,
    doc="§7 sampling: deterministic stratified downsampling — per-"
    "stratum keep rates (en 40%, fr 75%, rest 100%) applied by "
    "thresholding the same Knuth-multiplicative doc-id hash "
    "train_val_test_split uses, so membership is reproducible across "
    "runs/engines/partitionings and stable under corpus growth "
    "(adding docs never flips an existing doc's fate — unlike "
    "df.sampleBy, whose per-row rand() depends on partition layout). "
    "Pure map-side arithmetic + one summarizing hash-agg; at 100 TB "
    "the filter is a scan predicate and the kept set never "
    "materializes separately",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_taxi_data_clickhouse_spark.operators.selection import doc_bucket

    docs = load_table(spark, sf_dir, "documents")
    bucket = doc_bucket("doc_id")
    rate = F.lit(100)
    for lang, r in _STRATA_RATES.items():
        rate = F.when(F.col("lang") == lang, r).otherwise(rate)
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_total"),
        F.sum((bucket < rate).cast("long")).alias("n_kept"),
    )


@register(
    "domain_mix_temperature",
    """
    WITH c AS (
      SELECT lang, count(*) AS n_total FROM documents GROUP BY lang),
    r AS (
      SELECT lang, n_total,
             CAST(floor(100.0 * sqrt(
               (SELECT min(n_total) FROM c) * 1.0 / n_total)) AS INT) AS rate
      FROM c),
    t AS (
      SELECT d.lang,
             ((d.doc_id % 1000003) * 2654435761) % 100 AS bucket,
             r.rate, r.n_total
      FROM documents d JOIN r USING (lang))
    SELECT lang, n_total, rate,
           CAST(sum(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept
    FROM t GROUP BY lang, n_total, rate
    """,
    doc="§7 sampling: TEMPERATURE-SCALED domain mixing (the multinomial "
    "alpha-sampling used to flatten domain skew in multilingual corpora "
    "a la mC4/XLM-R, by downsampling): per-domain keep rate derived "
    "FROM THE DATA as floor(100 * (n_min/n_domain)^(1-alpha)) with "
    "alpha = 0.5 — the smallest domain keeps 100%, a 3.4x-larger one "
    "keeps ~54% — then applied with the growth-stable Knuth-"
    "multiplicative doc-id hash shared with sample_stratified/"
    "train_val_test_split, so membership at a given rate is stable "
    "(bucket < rate is monotone in rate) and adding documents to OTHER "
    "domains never flips a doc's fate — growing a doc's own domain "
    "lowers that domain's rate and can evict previously-kept docs "
    "whose bucket falls between the old and new rate (ADVICE r10).  "
    "alpha is pinned at 0.5 in the gated entry so "
    "the exponent is sqrt(), which IEEE-754 requires CORRECTLY ROUNDED "
    "— the rate is bit-identical across engines (a general pow() is "
    "not so guaranteed).  Scale shape: one tiny per-domain count agg, "
    "rates joined back under the count-GATED broadcast guard "
    "(stats.py pattern, VERDICT r10 item 2 — a 10^7-domain corpus "
    "must shuffle-join the rates, not OOM the driver), the keep "
    "decision a map-side scan predicate — at 100 TB the kept set "
    "never materializes separately and the only full-data pass is the "
    "summarizing agg.",
)
def domain_mix_temperature(
    spark: SparkSession,
    sf_dir: str,
    *,
    broadcast_side: bool | None = None,
) -> DataFrame:
    from nyc_taxi_data_clickhouse_spark.operators.selection import doc_bucket
    from nyc_taxi_data_clickhouse_spark.partitioning import group_table_hint

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_total"))
    # min over the tiny per-domain table: an empty-frame window beats a
    # driver collect (no job barrier, stays one plan) — the exchange it
    # adds moves |domains| rows
    n_min = F.min("n_total").over(Window.partitionBy())
    rates = counts.select(
        "lang",
        "n_total",
        F.floor(F.lit(100.0) * F.sqrt(n_min * 1.0 / F.col("n_total")))
        .cast("int")
        .alias("rate"),
    )
    bucket = doc_bucket("doc_id")
    # per-domain side table: unbounded cardinality on a real crawl, so
    # the broadcast is count-gated with a shuffle-join fallback
    hint = group_table_hint(rates, broadcast_side, label="domain_mix_rates")
    kept = docs.select("lang", bucket.alias("__b")).join(hint(rates), "lang")
    return kept.groupBy("lang", "n_total", "rate").agg(
        F.sum((F.col("__b") < F.col("rate")).cast("long")).alias("n_kept")
    )


@register(
    "char_entropy",
    """
    WITH cc AS (
      SELECT doc_id, c, count(*) AS n
      FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
            FROM documents WHERE length(text) > 0)
      GROUP BY doc_id, c),
    ent AS (
      SELECT doc_id,
             round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 4) AS entropy
      FROM cc GROUP BY doc_id)
    SELECT d.doc_id, ent.entropy
    FROM documents d LEFT JOIN ent USING (doc_id)
    """,
    doc="§7 quality: character-level Shannon entropy per document "
    "(nats) — the classic cheap gibberish/encoded-blob detector: "
    "natural text sits ~2.5-4.5, base64 and hex dumps score high, "
    "single-char spam scores ~0.  Computed as ln(n) - sum(c*ln(c))/n "
    "over per-(doc, char) counts: explode -> two-level hash agg keyed "
    "(doc_id, char) then doc_id; partial combine collapses repeats "
    "map-side so the shuffle carries at most |alphabet| rows per doc. "
    "Empty docs keep a NULL entropy via the left join",
)
def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cc = (
        docs.filter(F.length("text") > 0)
        .select("doc_id", F.explode(F.split("text", "")).alias("c"))
        .groupBy("doc_id", "c")
        .agg(F.count("*").alias("n"))
    )
    ent = cc.groupBy("doc_id").agg(
        F.round(
            F.log(F.sum("n")) - F.sum(F.col("n") * F.log("n")) / F.sum("n"), 4
        ).alias("entropy")
    )
    return docs.select("doc_id").join(ent, "doc_id", "left")


@register(
    "skew_salted_join",
    """
    SELECT c_mktsegment AS segment, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    doc="§2.3 scale: EXPLICIT salted equi-join — the fact side gets a "
    "uniform salt in [0,16), the dim side is replicated once per salt "
    "value, and the join key becomes (key, salt), spreading a hot "
    "key's rows over 16 reducers instead of one.  Result is provably "
    "identical to the unsalted inner join (the oracle IS the unsalted "
    "join).  This is the manual fallback for the skew AQE cannot fix: "
    "AQE skew-join only splits SORT-MERGE partitions after a "
    "map-stage, not the build side of a broadcast join or a "
    "pre-shuffle partial agg; salting also composes with bucketed "
    "layouts where AQE re-planning is off.  Cost model: dim side "
    "inflates x16 — correct when |dim| << |fact| (here 16x customer "
    "vs an order-per-customer fan-out; at 100 TB salt only the "
    "quantile-detected hot keys, not every key, and keep the "
    "long-tail join unsalted)",
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    joined = salted_join(orders, cust, "o_custkey", salt_buckets=16)
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "cogroup_orders_events",
    """
    WITH o AS (
      SELECT o_custkey AS custkey, count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS order_total
      FROM orders GROUP BY 1),
    e AS (
      SELECT user_id AS custkey, count(*) AS n_events,
             round(sum(value), 2) AS event_value
      FROM events GROUP BY 1)
    SELECT coalesce(o.custkey, e.custkey) AS custkey,
           coalesce(n_orders, 0) AS n_orders,
           coalesce(n_events, 0) AS n_events,
           coalesce(order_total, 0.0) AS order_total,
           coalesce(event_value, 0.0) AS event_value
    FROM o FULL OUTER JOIN e ON o.custkey = e.custkey
    """,
    doc="§2.10 API surface: cogrouped applyInPandas — orders and "
    "events cogrouped on the customer key, each group pair handed to "
    "one pandas function (the merge-two-sorted-sides primitive behind "
    "custom as-of joins, per-entity reconciliation, feature stitching "
    "when neither side alone is enough).  Oracle is the relational "
    "twin: full-outer join of the two per-key aggregates.  Same "
    "grouped-map scale contract as apply_in_pandas_zscore: both "
    "groups for one key materialize in a single Python worker, so "
    "keys must be bounded (per-customer rows here; pre-aggregate or "
    "bucket first when a key can be huge).  Arrow-batched transfer; "
    "one shuffle per side on the common key",
)
def cogroup_orders_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    events = load_events(spark, sf_dir).select("user_id", "value")

    def stitch(key: tuple, o: pd.DataFrame, e: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "custkey": [key[0]],
                "n_orders": [len(o)],
                "n_events": [len(e)],
                "order_total": [round(float(o["o_totalprice"].sum()), 2)],
                "event_value": [round(float(e["value"].sum()), 2)],
            }
        )

    return orders.groupBy("o_custkey").cogroup(
        events.groupBy("user_id")
    ).applyInPandas(
        stitch,
        schema="custkey long, n_orders long, n_events long, "
        "order_total double, event_value double",
    )


@register(
    "events_retention_cohorts",
    """
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cw
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM events)
    SELECT CAST(cw AS DATE) AS cohort_week,
           CAST(datediff('day', cw, aw) / 7 AS BIGINT) AS week_offset,
           count(*) AS n_active
    FROM activity JOIN first_seen USING (user_id)
    GROUP BY 1, 2
    """,
    doc="cohort retention matrix: users bucketed by first-seen ISO "
    "week, per (cohort, week-offset) distinct-active counts — the "
    "standard product-analytics triangle.  Shape: per-user min-ts agg "
    "(first touch), distinct (user, week) activity projection, one "
    "user-keyed join, then the matrix agg — the join carries one row "
    "per active user-week, never raw events.  Both week truncations "
    "are ISO Monday-start in Spark and DuckDB, and offsets are exact "
    "multiples of 7 days, so the integer division is exact.  At 100 "
    "TB the first-seen table is the thing to materialize "
    "incrementally (min is mergeable) rather than recompute",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("__cw")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("__aw")
    ).distinct()
    return (
        activity.join(first_seen, "user_id")
        .groupBy(
            F.to_date("__cw").alias("cohort_week"),
            (F.datediff(F.to_date("__aw"), F.to_date("__cw")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_active"))
    )


@register(
    "event_transition_counts",
    """
    WITH seq AS (
      SELECT user_id, ts, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type,
             lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_ts
      FROM events)
    SELECT prev_type AS from_type, event_type AS to_type,
           count(*) AS n,
           round(avg(epoch_us(ts) - epoch_us(prev_ts)) / 1e6, 3)
             AS avg_gap_s
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
    doc="§7 sequence mining: per-user event-transition (Markov "
    "bigram) matrix with mean inter-event gap.  lag over "
    "(user_id | ts, event_id) — the unique event_id tiebreak makes "
    "the sequence deterministic.  One shuffle to sort each user's "
    "history (state stays bounded per user), one hash-agg over the "
    "≤|types|² matrix; at 100 TB this is the sessionize partitioning "
    "reused — never a self-join on the event table",
)
def event_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.lag("event_type").over(w).alias("from_type"),
        F.lag("ts").over(w).alias("prev_ts"),
    ).filter(F.col("from_type").isNotNull())
    # ts may surface as TIMESTAMP_NTZ (parquet us) — normalize to
    # epoch micros; the diff is tz-invariant
    gap_s = (
        F.unix_micros(F.col("ts").cast("timestamp"))
        - F.unix_micros(F.col("prev_ts").cast("timestamp"))
    ) / 1e6
    return seq.groupBy(
        "from_type", F.col("event_type").alias("to_type")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.avg(gap_s), 3).alias("avg_gap_s"),
    )


@register(
    "snapshot_diff",
    """
    WITH v1 AS (
      SELECT o_orderkey, o_totalprice AS price FROM orders
      WHERE o_orderkey % 3 <> 0),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0
                  THEN o_totalprice + 10.0
                  ELSE o_totalprice END AS price
      FROM orders WHERE o_orderkey % 4 <> 0)
    SELECT coalesce(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
           CASE WHEN v1.o_orderkey IS NULL THEN 'insert'
                WHEN v2.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS action,
           v1.price AS old_price, v2.price AS new_price
    FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
          OR v1.price <> v2.price
    """,
    doc="§7 pipeline CDC: snapshot diff between two table versions — "
    "emit insert/delete/update actions from a keyed full outer join, "
    "suppressing unchanged rows.  At 100 TB both snapshots are "
    "bucketed by key so the diff is a co-located sort-merge join with "
    "no shuffle, and a per-row content hash replaces column-wise "
    "comparison when rows are wide; unchanged partitions are skipped "
    "entirely via partition-level content hashes",
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    )
    v2 = orders.filter(F.col("o_orderkey") % 4 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 5 == 0,
            F.col("o_totalprice") + 10.0,
        )
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )
    j = v1.alias("v1").join(
        v2.alias("v2"),
        F.col("v1.o_orderkey") == F.col("v2.o_orderkey"),
        "full_outer",
    )
    old_key, new_key = F.col("v1.o_orderkey"), F.col("v2.o_orderkey")
    old_price, new_price = F.col("v1.price"), F.col("v2.price")
    return j.select(
        F.coalesce(old_key, new_key).alias("o_orderkey"),
        F.when(old_key.isNull(), F.lit("insert"))
        .when(new_key.isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("action"),
        old_price.alias("old_price"),
        new_price.alias("new_price"),
    ).filter(
        old_key.isNull() | new_key.isNull() | (old_price != new_price)
    )


@register(
    "embedding_kmeans_clusters",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           TRUE AS all_assigned, TRUE AS multi_cluster,
           TRUE AS inertia_below_tss
    FROM embeddings
    """,
    doc="§7 corpus organization: KMeans document clustering over the "
    "embedding column (k=8, fixed seed) — the topic-bucketing / "
    "diversity-sampling step of a training-data pipeline (cluster "
    "then sample per cluster to rebalance domains).  Entry reports "
    "driver-checkable invariants Spark-side (every point assigned to "
    "exactly one cluster; more than one cluster non-empty; WCSS < "
    "0.99 x the exact total sum of squares — a collapsed clustering "
    "has WCSS = TSS, so the bound fails the hash gate on collapse, "
    "per VERDICT r2 #6; TSS is computed exactly in one Summarizer "
    "aggregate as sum(||x||^2) - n*||mean||^2, no second fit — the "
    "testdata embeddings are near-isotropic, real k=8 fits land at "
    "ratio 0.93-0.95, so a tighter bound would reject correct "
    "clusterings).  Exact cluster "
    "contents stay "
    "seed-dependent, hence the boolean-invariant oracle; k_used and "
    "per-cluster sizes are pytest-asserted for diagnosability.  "
    "Scale shape: Spark ML KMeans is the distributed fit "
    "(per-partition partial sums per iteration); assignment is one "
    "model.transform projection, no shuffle beyond the fit itself",
)
def embedding_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings")
    feat = emb.select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias(
            "__features"
        ),
    )
    km = KMeans(k=8, seed=42, featuresCol="__features", predictionCol="__cluster")
    if feat.isEmpty():
        # KMeans.fit on an empty table throws a deep stage failure; the
        # graceful contract is an empty report with the output schema
        return spark.createDataFrame(
            [],
            "n_points bigint, all_assigned boolean, multi_cluster boolean, "
            "inertia_below_tss boolean",
        )
    model = km.fit(feat)
    wcss = model.summary.trainingCost
    # Exact TSS (sum of squared deviations from the global mean) via one
    # distributed Summarizer aggregate: sum(||x||^2) - n*||mean||^2.
    # (A KMeans(k=1) probe both is illegal in Spark ML — k must be >1 —
    # and would measure cost against a sampled init center, not the
    # mean; the closed form is exact and costs a single pass.)
    from pyspark.ml.stat import Summarizer

    srow = feat.select(
        Summarizer.metrics("mean", "normL2", "count")
        .summary(F.col("__features"))
        .alias("s")
    ).select("s.*").first()
    mean_vec, norm_l2, n_rows = srow["mean"], srow["normL2"], srow["count"]
    sum_sq = float(sum(v * v for v in norm_l2))  # per-dim normL2 = sqrt(sum x_d^2)
    tss = sum_sq - n_rows * float(sum(v * v for v in mean_vec))
    assigned = model.transform(feat)
    sizes = assigned.groupBy("__cluster").agg(F.count("*").alias("__n"))
    total = emb.agg(F.count("*").alias("__total"))
    return (
        sizes.agg(
            F.sum("__n").alias("__assigned"),
            F.count("*").alias("__k_used"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            F.col("__total").alias("n_points"),
            (F.col("__assigned") == F.col("__total")).alias("all_assigned"),
            (F.col("__k_used") >= 2).alias("multi_cluster"),
            F.lit(bool(wcss < 0.99 * tss)).alias("inertia_below_tss"),
        )
    )


@register(
    "line_dedup_corpus",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    lines AS (
      SELECT doc_id, i AS line_no,
             array_to_string(list_slice(ts, i * 8 + 1, i * 8 + 8), ' ') AS line
      FROM toks
      CROSS JOIN LATERAL (
        SELECT unnest(generate_series(
          0, CAST(ceil(len(ts) / 8.0) AS BIGINT) - 1)) AS i
      ) g
    ),
    keeper AS (
      SELECT line, min(doc_id * 1000000 + line_no) AS first_key
      FROM lines GROUP BY line
    ),
    marked AS (
      SELECT l.doc_id, l.line_no, l.line,
             (l.doc_id * 1000000 + l.line_no) = k.first_key AS keep
      FROM lines l JOIN keeper k USING (line)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(array_to_string(
             list(CASE WHEN keep THEN line END ORDER BY line_no)
               FILTER (WHERE keep), ' '), '') AS dedup_text
    FROM marked
    GROUP BY doc_id
    """,
    doc="C4-style span-level corpus dedup (Raffel et al. 2020 dedup "
    "unit, applied as non-overlapping 8-token spans since the corpus "
    "has no newline structure): every span that occurs anywhere "
    "earlier in the corpus — first occurrence = smallest "
    "(doc_id, span_no) — is removed from later documents, and each "
    "document is reassembled from its surviving spans in order.  "
    "Scale shape: one span-keyed groupBy with map-side partial "
    "aggregation (hot boilerplate spans collapse map-side, unlike a "
    "window over the span key which would concentrate them in one "
    "task), one equi-join back on the span hash, one doc-keyed "
    "reassembly agg; no window over high-cardinality keys, no "
    "collect to the driver.",
)
def line_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    span = 8
    toks = docs.select("doc_id", F.split("text", " ").alias("ts"))
    n_spans = F.ceil(F.size("ts") / F.lit(float(span))).cast("int")
    lines = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.array_join(
                    F.slice("ts", i * span + 1, F.lit(span)), " "
                ),
            )
        ).alias("line_no", "line"),
    )
    # first occurrence per span: scalar-encoded (doc_id, line_no) so the
    # min is a plain partial-aggregatable agg on both engines
    key = (F.col("doc_id") * F.lit(1_000_000) + F.col("line_no")).alias("__key")
    keeper = (
        lines.select("line", key)
        .groupBy("line")
        .agg(F.min("__key").alias("__first"))
    )
    marked = (
        lines.select("doc_id", "line_no", "line", key)
        .join(keeper, "line")
        .select(
            "doc_id",
            "line_no",
            "line",
            (F.col("__key") == F.col("__first")).alias("keep"),
        )
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("keep"), F.struct("line_no", "line")
                        )
                    )
                ),
                lambda s: s["line"],
            ),
            " ",
        ).alias("dedup_text"),
    )
