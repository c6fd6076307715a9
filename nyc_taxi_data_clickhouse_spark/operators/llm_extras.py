"""Further LLM-training-data operators (SURVEY §7 extension scope):
PII redaction, duplicate-cluster assignment and representatives,
exact-substring duplication, benchmark-contamination detection, and
connected-components grouping of near-duplicate pairs.

All are first-class curation steps in a 100 TB text pipeline: redact
before training, cluster duplicates to pick one representative,
measure repeated substrings, drop documents that leak evaluation
benchmarks, and group transitive near-dups so a whole family
collapses to one survivor.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from nyc_taxi_data_clickhouse_spark import partitioning
from nyc_taxi_data_clickhouse_spark.scratch import track_persist
from nyc_taxi_data_clickhouse_spark.suite import load_table, register
from nyc_taxi_data_clickhouse_spark.operators import dedup
from nyc_taxi_data_clickhouse_spark.operators.dedup import (
    _shingle_table,
    connected_components,
    connected_components_star,
    normalize_text,
)
# email then digit redaction; both patterns are RE2-and-Java-regex
# compatible (no backreferences or lookaround)
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


@register(
    "pii_redact",
    rf"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
           regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '[0-9]', '#', 'g') AS redacted
    FROM documents
    """,
    doc="§7 text: PII scrubbing — email addresses -> <EMAIL>, digits "
    "-> '#' (JVM regexp_replace, map-only, no shuffle); emits the "
    "pre-redaction match count for audit",
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE))).alias("n_emails"),
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), "[0-9]", "#"
        ).alias("redacted"),
    )


@register(
    "dedup_clusters",
    r"""
    SELECT doc_id,
           min(doc_id) OVER (PARTITION BY norm) AS cluster_id,
           count(*) OVER (PARTITION BY norm) AS cluster_size
    FROM (SELECT doc_id,
                 regexp_replace(lower(trim(text)), '[ \t\n\x0B\f\r]+', ' ', 'g') AS norm
          FROM documents)
    """,
    doc="§7 dedup: per-document exact-dup cluster assignment (cluster "
    "id = lowest doc_id sharing the normalized text) — one window "
    "shuffle on the normalized-text key; the groupBy twin is "
    "dedup_exact",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("__norm")
    return (
        docs.select("doc_id", normalize_text("text").alias("__norm"))
        .select(
            "doc_id",
            F.min("doc_id").over(w).alias("cluster_id"),
            F.count("*").over(w).alias("cluster_size"),
        )
    )


@register(
    "dedup_cluster_representatives",
    r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+') AS t
      FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 0)),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
      FROM toks),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.9),
    sym AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b),
    comp AS (
      SELECT node, least(node, min(b)) AS component
      FROM (SELECT DISTINCT a AS node FROM sym) nodes
      JOIN reach ON reach.a = node
      GROUP BY node),
    sized AS (
      SELECT c.component, c.node, d.n_chars
      FROM comp c JOIN documents d ON d.doc_id = c.node)
    SELECT component,
           node AS rep_doc_id,
           CAST(cnt AS BIGINT) AS cluster_size
    FROM (
      SELECT component, node, n_chars,
             count(*) OVER (PARTITION BY component) AS cnt,
             row_number() OVER (PARTITION BY component
                                ORDER BY n_chars DESC, node) AS rn
      FROM sized)
    WHERE rn = 1
    """,
    doc="§7 dedup, the step AFTER detection: one canonical document per "
    "near-dup component (longest n_chars, ties to the lowest doc_id) "
    "plus the cluster size — what a corpus run keeps, instead of "
    "dropping every member.  Composes ngram_jaccard_pairs (shared-"
    "shingle equi-join, dedup.py:182) with the O(log n) large-star/"
    "small-star components (dedup.py:690) and ONE per-component "
    "row_number window over the component-sized (not corpus-sized) "
    "member table.  Oracle: the recursive-CTE transitive closure + the "
    "same deterministic top-1",
)
def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.9)
    comp = connected_components_star(pairs)
    sized = comp.join(
        docs.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    )
    w = W.partitionBy("component")
    wo = w.orderBy(F.desc("n_chars"), F.asc("node"))
    return (
        sized.withColumn("cluster_size", F.count("*").over(w))
        .withColumn("rn", F.row_number().over(wo))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("node").alias("rep_doc_id"),
            F.col("cluster_size").cast("long"),
        )
    )


# shared by the raw-key and hashed-key registrations: the gram key only
# decides gram EQUALITY, and xxhash64 equality == string equality up to
# a ~1e-19·n² collision, so both forms produce identical output and the
# same DuckDB oracle gates both.
_SSDF_ORACLE = """
    WITH pos AS (
      SELECT doc_id, i, substr(text, CAST(i AS INT), 20) AS g
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, length(text) - 19)) AS i
            FROM documents WHERE length(text) >= 20)),
    dup AS (SELECT g FROM pos GROUP BY g HAVING count(*) > 1),
    dp AS (SELECT p.doc_id, p.i FROM pos p JOIN dup USING (g)),
    cov AS (
      SELECT doc_id,
             least(20, coalesce(lead(i) OVER (PARTITION BY doc_id
                                              ORDER BY i),
                                i + 20) - i) AS c
      FROM dp),
    agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS dup_chars FROM cov GROUP BY doc_id)
    SELECT d.doc_id, CAST(coalesce(agg.dup_chars, 0) AS BIGINT) AS dup_chars,
           length(d.text) AS n_chars,
           round(coalesce(agg.dup_chars, 0) / greatest(length(d.text), 1),
                 6) AS dup_fraction
    FROM documents d LEFT JOIN agg USING (doc_id)
    """


@register(
    "substring_dup_fraction",
    _SSDF_ORACLE,
    doc="§7 exact-substring duplication signal (Lee et al. 2022, "
    "'Deduplicating Training Data Makes Language Models Better'): the "
    "fraction of each document's characters covered by a 20-char gram "
    "that occurs more than once in the corpus (including within-doc "
    "repeats).  Suffix arrays don't distribute; the equivalent "
    "char-gram formulation does: explode positions, one hash-agg for "
    "gram frequency, join back the duplicated grams, and merge "
    "overlapping [i, i+20) intervals per doc with a lead() window "
    "(coverage = Σ min(20, next_i - i)).  At 100 TB the gram key is "
    "a 64-bit hash instead of the raw 20-char string (same algebra, "
    "8× narrower shuffle; raw strings here keep the DuckDB oracle "
    "hash-function-agnostic), and the frequency table is df-capped "
    "like the shingle joins.  Every stage is a hash agg / equi-join / "
    "narrow window — no suffix structure, no all-pairs",
)
def substring_dup_fraction(
    spark: SparkSession, sf_dir: str, key_hash: bool = False
) -> DataFrame:
    """``key_hash=True`` is the PRODUCTION form: the gram key becomes
    ``xxhash64(gram)`` — an 8-byte shuffle key instead of a 20-char
    string (~8× narrower frequency shuffle and join-back; a 64-bit
    collision merging two distinct grams is ~1e-19·n² and only ever
    OVERcounts coverage by one gram).  The oracle-gated entry keeps
    the raw string so the DuckDB twin needs no matching hash
    function; the scaling harness measures both forms."""
    k = 20
    # the per-char position explode multiplies rows ~1000x BEFORE the
    # first exchange: from a single-row-group scan that whole expansion
    # (and the persist populating it) runs on one core — widen when
    # starved, no-op on naturally partitioned inputs
    docs = partitioning.widen_for_cpu_map(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    gram = F.expr(f"substr(text, i, {k})")
    # persist the exploded position table: the gram-frequency agg AND
    # the join-back both consume it (VERDICT r3 #4 recompute rule).
    # track_persist bounds the cache to one live copy across repeated
    # calls (the lazily-consumed result forbids in-body unpersist).
    pos = track_persist(
        f"ssdf_pos_{key_hash}_{Path(sf_dir).name}",
        docs.filter(F.length("text") >= k).select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("text") - (k - 1))
            ).alias("i"),
            (F.xxhash64(gram) if key_hash else gram).alias("g"),
        ),
    )
    dup = pos.groupBy("g").agg(F.count("*").alias("__n")).filter(
        F.col("__n") > 1
    )
    dp = pos.join(dup.select("g"), "g").select("doc_id", "i")
    w = W.partitionBy("doc_id").orderBy("i")
    cov = dp.select(
        "doc_id",
        F.least(
            F.lit(k),
            F.coalesce(F.lead("i").over(w), F.col("i") + k) - F.col("i"),
        ).alias("c"),
    )
    agg = cov.groupBy("doc_id").agg(F.sum("c").alias("dup_chars"))
    return (
        docs.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("dup_chars", F.lit(0)).alias("dup_chars"),
            F.length("text").alias("n_chars"),
            F.round(
                F.coalesce("dup_chars", F.lit(0))
                / F.greatest(F.length("text"), F.lit(1)),
                6,
            ).alias("dup_fraction"),
        )
    )


@register(
    "substring_dup_fraction_hashed",
    _SSDF_ORACLE,
    doc="PRODUCTION form of substring_dup_fraction (VERDICT r6 item 6): "
    "gram key = xxhash64(gram), an 8-byte shuffle key instead of a "
    "20-char string — ~8× narrower frequency shuffle and join-back, "
    "0.66 marginal scaling slope vs 1.15 for the raw form "
    "(SCALING_r05.json).  Output is identical to the raw form (the key "
    "only decides gram equality; a 64-bit collision is ~1e-19·n² and "
    "only ever overcounts one gram), so the SAME DuckDB oracle gates "
    "it.  This is the form the headline bench times; the raw entry "
    "stays as the hash-agnostic twin",
)
def substring_dup_fraction_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_dup_fraction(spark, sf_dir, key_hash=True)


@register(
    "contamination_ngram",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+') AS t
      FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 0)),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
      FROM toks)
    SELECT d.doc_id, count(DISTINCT d.s) AS n_shared_shingles
    FROM sh d
    JOIN (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0) b ON b.s = d.s
    WHERE d.doc_id % 50 != 0
    GROUP BY d.doc_id
    """,
    doc="§7 text: benchmark-contamination detection — training docs "
    "sharing any 3-gram with the benchmark set (doc_id % 50 = 0), via "
    "hashed-shingle equi-join against the (small, broadcastable) "
    "benchmark shingle table; counts distinct leaked shingles",
)
def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    bench_sh = (
        _shingle_table(bench, "text", "doc_id", 3)
        .select("__sh")
        .distinct()
    )
    train_sh = _shingle_table(train, "text", "doc_id", 3)
    return (
        train_sh.join(F.broadcast(bench_sh), "__sh")
        .groupBy(F.col("__id").alias("doc_id"))
        .agg(F.countDistinct("__sh").alias("n_shared_shingles"))
    )


@register(
    "near_dup_components",
    r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+') AS t
      FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 0)),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
      FROM toks),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.9),
    sym AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b)
    SELECT node, least(node, min(b)) AS component
    FROM (SELECT DISTINCT a AS node FROM sym) nodes
    JOIN reach ON reach.a = node
    GROUP BY node
    """,
    doc="§7 dedup: connected components over the 0.9-Jaccard near-dup "
    "graph by iterative min-label propagation (join+groupBy per round, "
    "lineage checkpoint-truncated; oracle = DuckDB recursive CTE "
    "transitive closure)",
)
def near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shingle explode + self-join stage-1 is CPU-bound; a single-row-
    # group scan serializes it (measured 3.6 -> 1.7 s at sf0.1).  The
    # capped (max_df) jaccard entry is deliberately NOT widened — its
    # hot-set broadcast path measured unstable under widening.
    docs = partitioning.widen_for_cpu_map(load_table(spark, sf_dir, "documents"))
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.9)
    return connected_components(pairs).select("node", "component")


@register(
    "near_dup_components_star",
    r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+') AS t
      FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 0)),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
      FROM toks),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.9),
    sym AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b)
    SELECT node, least(node, min(b)) AS component
    FROM (SELECT DISTINCT a AS node FROM sym) nodes
    JOIN reach ON reach.a = node
    GROUP BY node
    """,
    doc="§7 dedup: same component semantics as near_dup_components but "
    "via alternating large-star/small-star (Kiveris et al. SoCC'14) — "
    "the O(log n)-round scale path that survives adversarial chain "
    "graphs where min-label propagation needs diameter rounds; same "
    "DuckDB recursive-CTE oracle",
)
def near_dup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = partitioning.widen_for_cpu_map(load_table(spark, sf_dir, "documents"))
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.9)
    return connected_components_star(pairs).select("node", "component")


# ===========================================================================
# composite curation pipeline (quality gate -> lang gate -> exact dedup
# -> PII redaction) — the end-to-end shape a training-data run executes
# ===========================================================================

from nyc_taxi_data_clickhouse_spark.operators.suite_entries import _WC, _hits  # noqa: E402
from nyc_taxi_data_clickhouse_spark.operators import text as text_ops  # noqa: E402


@register(
    "documents_curation",
    rf"""
    WITH h AS (
      SELECT doc_id, text,
             {_WC} AS wc,
             {_hits('en')} AS c_en, {_hits('de')} AS c_de,
             {_hits('es')} AS c_es, {_hits('fr')} AS c_fr,
             regexp_replace(lower(trim(text)), '[ \t\n\x0B\f\r]+', ' ', 'g') AS norm
      FROM documents),
    f AS (
      SELECT * FROM h
      WHERE wc >= 10
        AND greatest(c_en, c_de, c_es, c_fr) > 0
        AND c_en = greatest(c_en, c_de, c_es, c_fr)),
    k AS (SELECT *, min(doc_id) OVER (PARTITION BY norm) AS keep FROM f)
    SELECT doc_id, wc AS token_count,
           regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '[0-9]', '#', 'g') AS redacted
    FROM k WHERE doc_id = keep
    """,
    doc="§7 composite: the full curation pipeline in one plan — token "
    "floor (wc>=10), English-only language gate, exact-dup removal "
    "(keep lowest id), PII redaction.  Single scan, one window "
    "shuffle; each stage is the already-oracle-gated operator, "
    "composed",
)
def documents_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pre = docs.select(
        "doc_id", "text", text_ops.tokens("text").alias("__toks")
    ).select(
        "doc_id",
        "text",
        text_ops.token_count("text", toks=F.col("__toks")).alias("token_count"),
        text_ops.lang_id("text", toks=F.col("__toks")).alias("__lang"),
        normalize_text("text").alias("__norm"),
    )
    kept = pre.filter((F.col("token_count") >= 10) & (F.col("__lang") == "en"))
    w = W.partitionBy("__norm")
    return (
        kept.withColumn("__keep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("__keep"))
        .select(
            "doc_id",
            "token_count",
            F.regexp_replace(
                F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), "[0-9]", "#"
            ).alias("redacted"),
        )
    )


# ===========================================================================
# embedding centroids + quantization, regex extraction, array ops
# ===========================================================================

@register(
    "embedding_centroids",
    """
    SELECT e.label, g.pos, round(avg(e.embedding[g.pos]), 4) + 0.0 AS c
    FROM embeddings e, generate_series(1, 64) AS g(pos)
    GROUP BY e.label, g.pos
    """,
    doc="§7 embeddings: per-label mean vector (posexplode -> (key,pos) "
    "hash agg with map-side partial combine; long format avoids "
    "order-sensitive array assembly).  Both sides add + 0.0 after the "
    "round: a near-zero mean can round to IEEE -0.0 on one engine and "
    "+0.0 on the other (hit at sf0.1), and a string-formatting "
    "comparator would see two different values for an exact tie",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_taxi_data_clickhouse_spark.operators.embeddings import centroids_long

    return centroids_long(load_table(spark, sf_dir, "embeddings")).select(
        "label", "pos", (F.col("c") + F.lit(0.0)).alias("c")
    )


@register(
    "embedding_quantize_int8",
    """
    SELECT e.vec_id, g.pos,
           CAST(round(e.embedding[g.pos] * 127.0
                / nullif(list_max(list_transform(e.embedding, v -> abs(v))), 0.0),
                0) AS BIGINT) AS q
    FROM embeddings e, generate_series(1, 64) AS g(pos)
    """,
    doc="§7 embeddings: symmetric int8 scalar quantization (per-vector "
    "scale via higher-order aggregate, map-only; 4x storage cut before "
    "ANN indexing)",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_taxi_data_clickhouse_spark.operators.embeddings import quantize_int8_long

    return quantize_int8_long(load_table(spark, sf_dir, "embeddings"))


@register(
    "regex_extract_groups",
    r"""
    SELECT doc_id,
           regexp_extract(text, '([0-9]+)', 1) AS first_number,
           regexp_extract(text, '\b([A-Z][a-z]+)\b', 1) AS first_capitalized
    FROM documents
    """,
    doc="§2.8 extension: regexp_extract with capture groups (both "
    "engines return '' on no-match; map-only)",
)
def regex_extract_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract("text", r"([0-9]+)", 1).alias("first_number"),
        F.regexp_extract("text", r"\b([A-Z][a-z]+)\b", 1).alias("first_capitalized"),
    )


@register(
    "array_ops",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_distinct(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+')) AS d
      FROM documents WHERE trim(text) != '')
    SELECT doc_id,
           len(d) AS n_distinct,
           array_to_string(list_sort(d), ' ') AS sorted_tokens,
           len(list_filter(d, x -> list_contains(['the','a','of','and','to'], x)))
               AS n_stopwords
    FROM t
    """,
    doc="§2.8 extension: array function surface — distinct, sort, "
    "join, filtered intersection size, all as JVM higher-order "
    "functions over the token array (no explode, no shuffle)",
)
def array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.trim("text") != "")
    d = F.array_distinct(text_ops.tokens("text"))
    stop = F.array([F.lit(w) for w in ["the", "a", "of", "and", "to"]])
    return docs.select(
        "doc_id",
        F.size(d).alias("n_distinct"),
        F.array_join(F.sort_array(d), " ").alias("sorted_tokens"),
        F.size(F.array_intersect(d, stop)).alias("n_stopwords"),
    )


@register(
    "train_val_test_split",
    """
    WITH t AS (
      SELECT doc_id, lang,
             ((doc_id % 1000003) * 2654435761) % 100 AS bucket
      FROM documents)
    SELECT lang,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs
    FROM t GROUP BY 1, 2
    """,
    doc="deterministic train/val/test split (80/10/10): Knuth "
    "multiplicative hash of the doc id into 100 buckets, thresholded "
    "— reproducible across runs, engines, and reshuffles (unlike "
    "randomSplit, whose assignment depends on partitioning), and "
    "stable under corpus growth: adding documents never moves an "
    "existing one between splits, the property leakage audits depend "
    "on.  Pure map-side arithmetic; the groupBy here only summarizes "
    "the assignment for the gate",
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_taxi_data_clickhouse_spark.operators.selection import doc_bucket

    docs = load_table(spark, sf_dir, "documents")
    bucket = doc_bucket("doc_id")
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return docs.select("lang", split.alias("split")).groupBy(
        "lang", "split"
    ).agg(F.count("*").alias("n_docs"))


@register(
    "token_budget_packing",
    """
    WITH t AS (
      SELECT doc_id,
             length(text) - length(replace(text, ' ', '')) + 1 AS toks
      FROM documents),
    c AS (
      SELECT doc_id, toks,
             coalesce(sum(toks) OVER (
               ORDER BY doc_id, toks ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS prior
      FROM t)
    SELECT CAST(floor(prior / 2048.0) AS BIGINT) AS bin,
           count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS total_toks
    FROM c GROUP BY 1
    """,
    doc="token-budget sequence packing (training-batch construction): "
    "docs in deterministic id order, running token count, bin = "
    "floor(prior_cumsum / budget) — the streaming-friendly "
    "approximation of first-fit packing (a bin may overshoot by at "
    "most one document; exact bin-packing is NP-hard and "
    "order-dependent; CAST of a fractional value rounds in some "
    "engines, so the bin index floors explicitly).  The running sum "
    "is a TWO-PHASE DISTRIBUTED PREFIX SUM (VERDICT r14 item 1), not "
    "a global-ordered window: the corpus is range-sharded on the "
    "leading sort key by approx-quantile cuts (deterministic literals "
    "once collected — unlike spark_partition_id over "
    "repartitionByRange, re-evaluation of a branch can never move a "
    "row between shards), the running sum windows WITHIN shards in "
    "parallel, per-shard totals (n_shards rows) cumulate in one tiny "
    "bounded window, and the broadcast offsets add back.  Exact "
    "integer arithmetic, so the result is byte-identical to the "
    "single-window form under the same (doc_id, toks) global order; "
    "whitespace token proxy keeps the oracle engine-portable",
)
def token_budget_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))) + 1
    )
    t = docs.select(F.col("doc_id"), toks.alias("toks"))

    # Shard count: session default, data-sized upward for corpora whose
    # (doc_id, toks, shard) exchange would overfill the default width.
    n_shards = partitioning.sized_shuffle_partitions(
        t, partitioning.PACKING_SHUFFLE_EXPANSION
    ) or partitioning.session_shuffle_partitions(spark)

    # Phase 0 — deterministic range cuts on the leading key only (one
    # cheap single-column pass; 1% balance error only costs balance,
    # never correctness).  Sharding by doc_id alone keeps duplicate ids
    # in one shard, so within-shard (doc_id, toks) order concatenated
    # across ascending shards IS the global order.
    cuts: list[int] = []
    if n_shards > 1:
        qs = docs.select("doc_id").stat.approxQuantile(
            "doc_id", [i / n_shards for i in range(1, n_shards)], 0.01
        )
        cuts = sorted({int(q) for q in qs})
    shard = F.lit(0)
    for b in cuts:
        shard = shard + (F.col("doc_id") > F.lit(b)).cast("int")
    s = t.withColumn("shard", shard)

    # Phase 1 — running sum WITHIN each shard (one hash exchange on the
    # shard key; per-task sort state is corpus_bytes/n_shards, bounded
    # by the sizing above).  (doc_id, toks) ordering: the corpus
    # carries one duplicated id, and an ambiguous tie order would
    # shift every later prior-sum.  Persisted once: the per-shard
    # totals and the offset join-back below both consume it, and the
    # cached table is 3 ints/row — cluster cache-tier sized at 100 TB.
    w_in = (
        W.partitionBy("shard")
        .orderBy("doc_id", "toks")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    local = track_persist(
        f"packing:{sf_dir}",
        s.withColumn(
            "local_prior", F.coalesce(F.sum("toks").over(w_in), F.lit(0))
        ),
    )

    # Phase 2 — cumulative shard offsets.  The only unpartitioned
    # window left runs over n_shards rows (bounded by the shuffle
    # width, not the corpus — the plan-hygiene allowlist class).
    totals = local.groupBy("shard").agg(F.sum("toks").alias("shard_toks"))
    w_off = W.orderBy("shard").rowsBetween(W.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "offset", F.coalesce(F.sum("shard_toks").over(w_off), F.lit(0))
    ).select("shard", "offset")

    # Phase 3 — global prior = in-shard prior + broadcast shard offset.
    c = local.join(F.broadcast(offsets), "shard").withColumn(
        "prior", F.col("local_prior") + F.col("offset")
    )
    return (
        c.select(F.floor(F.col("prior") / 2048).cast("long").alias("bin"), "toks")
        .groupBy("bin")
        .agg(F.count("*").alias("n_docs"), F.sum("toks").alias("total_toks"))
    )
