"""Vocabulary-scale corpus statistics: term co-occurrence, bigram
surprisal, Count-Min heavy hitters and BPE merge candidates.  Each
reduces the corpus with one token-keyed shuffle and then works on the
(many-orders-smaller) vocabulary or model table.

- ``term_cooccurrence``: top co-occurring term pairs over the
  mid-frequency vocabulary (corpus collocation mining).
- ``bigram_surprisal``: per-document mean surprisal under the corpus
  bigram LM (sequence-aware perplexity signal).
- ``countmin_heavy_hitters``: Count-Min sketch (Cormode & Muthu-
  krishnan 2005) heavy-hitter estimation with DETERMINISTIC hashes, so
  the sketch — normally a streaming/mergeable approximation — is exact
  enough to be byte-restated by the SQL oracle.  Per depth row ``j``,
  ``bucket_j(term) = ((fp + j*P) * KNUTH) mod 2^32 mod W`` where ``fp``
  is a char-level polynomial hash < 2^30 (so the int64 product cannot
  overflow: (2^30 + 3P) * KNUTH < 2^62).  The sketch itself is
  ``depth x width`` = 192 counters whatever the corpus size — the
  mergeable shape you keep per shard and ``+`` across 1000 executors;
  the estimate is ``min_j counter[j][bucket_j]``, which can only
  OVER-estimate (the entry emits the ``over_ok`` invariant per term).
  Scale path: one corpus-scale token hash-agg; the per-(j,bucket)
  re-agg and the estimate join-back are vocabulary-scale, and the
  192-row sketch is broadcast.
- ``bpe_pair_merge``: the inner step of byte-pair-encoding tokenizer
  training — count adjacent symbol pairs across the corpus and rank
  the merge candidates.  The trick every real BPE trainer uses, made
  Spark-native: aggregate the corpus to DISTINCT-word counts FIRST
  (the only corpus-scale shuffle), then explode each distinct word's
  ``len-1`` adjacent char pairs weighted by its count — the explosion
  is vocabulary-scale, independent of corpus size, so growing the
  corpus 100x grows only the first hash-agg.  Top-k candidates via
  row_number with a total tiebreak (count desc, pair asc).

Reference: no analog (the reference is a 4-query taxi benchmark —
SURVEY §0); every entry is DuckDB-oracle-gated with the oracle
restating the identical arithmetic, and all tokenize with
``operators/text.py:tokens`` (the oracles restate its explicit
whitespace class).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_taxi_data_clickhouse_spark.operators.selection import KNUTH
from nyc_taxi_data_clickhouse_spark.operators.text import tokens
from nyc_taxi_data_clickhouse_spark.suite import load_table, register

@register(
    "term_cooccurrence",
    r"""
    WITH toks AS (
      SELECT DISTINCT doc_id, tok
      FROM (SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+')) AS tok
            FROM documents)
      WHERE tok <> ''),
    df AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents),
    mid AS (
      SELECT t.doc_id, t.tok FROM toks t JOIN df USING (tok) CROSS JOIN n
      WHERE df.df >= 0.01 * n.n_docs AND df.df <= 0.90 * n.n_docs)
    SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_docs
    FROM mid a JOIN mid b ON a.doc_id = b.doc_id AND a.tok < b.tok
    GROUP BY tok_a, tok_b
    ORDER BY n_docs DESC, tok_a, tok_b
    LIMIT 50
    """,
    doc="§7 corpus analytics: top-50 co-occurring term pairs over "
    "mid-frequency vocabulary (document frequency in [1%, 90%] of "
    "the corpus — ubiquitous boilerplate above, hapax noise below).  "
    "The df band is the scale contract: it caps per-doc "
    "distinct terms so the doc-keyed self-join fans out O(k²) with "
    "small bounded k, never O(vocab²).  One shuffle for df, one "
    "doc-keyed equi-join, TakeOrderedAndProject top-k — no cartesian",
)
def term_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # r14: the r13 stage-1 widening REVERTED on a controlled A/B
    # (narrow 1.80/1.99 ± 0.16 vs widened 1.94/2.21 ± 0.19 solo; the
    # tripwire had flagged a +23% best-of ratchet vs the pre-widening
    # floor).  Unlike jaccard, the tokenize+explode here feeds a
    # DISTINCT (wide partial-agg per partition) before the persist, so
    # widening multiplies combine state — the minhash failure mode,
    # just milder.  BENCH_NOTES r14 has the measurement.
    # persist the exploded-distinct token table: the df aggregate AND
    # both self-join sides derive from it, and without the persist
    # Catalyst re-executes tokenize->explode->distinct per reference —
    # three extra corpus scans at 100 TB (the VERDICT r3 #4 Jaccard
    # lesson applied here).  MEMORY_AND_DISK so oversized partitions
    # spill instead of OOM; freed by session clearCache / teardown.
    toks = (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    df_tab = toks.groupBy("tok").agg(F.count("*").alias("df"))
    # 1-row broadcast total (analysis.py pattern) — no driver action
    n = docs.agg(F.count("*").alias("n_docs"))
    band = (
        df_tab.crossJoin(F.broadcast(n))
        .filter(
            (F.col("df") >= 0.01 * F.col("n_docs"))
            & (F.col("df") <= 0.90 * F.col("n_docs"))
        )
        .select("tok")
    )
    # the band table is tiny (mid-frequency vocab) — broadcast it so
    # the cached toks table never shuffles for the semi-join; both
    # self-join sides re-derive `mid` from the cache (a map-only
    # filter), so no second persist is needed.
    # r15 negative result: replacing this self-join with per-doc
    # sort_array(collect_list) + a nested transform/flatten pair
    # generator (one fewer shuffle on paper) measured +20% at sf0.1
    # (A 3.05/2.70/2.71 vs B 3.25/3.18/3.76, alternating same-host) —
    # higher-order functions building structs are CodegenFallback
    # (interpreted per row), losing more than the sort-merge join
    # costs.  Values were byte-identical; reverted on measurement.
    mid = toks.join(F.broadcast(band), "tok")
    a = mid.select("doc_id", F.col("tok").alias("tok_a"))
    b = mid.select("doc_id", F.col("tok").alias("tok_b"))
    return (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), "tok_a", "tok_b")
        .limit(50)
    )


@register(
    "bigram_surprisal",
    r"""
    WITH pos AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+')) AS term,
             generate_subscripts(
               string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'), 1) AS p
      FROM documents),
    big AS (
      SELECT doc_id,
             lag(term) OVER (PARTITION BY doc_id ORDER BY p) AS w1,
             term AS w2
      FROM pos),
    obs AS (SELECT doc_id, w1, w2 FROM big WHERE w1 IS NOT NULL),
    bf AS (SELECT w1, w2, count(*) AS bc FROM obs GROUP BY w1, w2),
    cf AS (SELECT w1, count(*) AS cc FROM obs GROUP BY w1)
    SELECT obs.doc_id,
           round(avg(-ln(CAST(bf.bc AS DOUBLE) / cf.cc)), 6)
             AS bigram_surprisal,
           count(*) AS n_bigrams
    FROM obs JOIN bf USING (w1, w2) JOIN cf USING (w1)
    GROUP BY obs.doc_id
    """,
    doc="§7 corpus LM signal: mean -ln P(w2 | w1) per document under "
    "the corpus bigram MLE model — the sequence-aware upgrade of "
    "unigram_surprisal for perplexity-style quality filtering "
    "(boilerplate scores low, shuffled/garbled text scores high even "
    "when its unigrams look normal).  Model = (w1, w2, count) and "
    "(w1, count) relations joined back bigram-keyed; positions come "
    "from posexplode, bigrams from one per-doc window lag.  At "
    "100 TB the bigram table is term-hash-partitioned and the two "
    "model joins broadcast when vocab² fits, AQE-skew-join otherwise",
)
def bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("p", "term")
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    # persist the bigram stream: the model aggregates (bf, cf) AND the
    # scoring join all derive from it, and without the persist
    # Catalyst re-executes posexplode + the per-doc window sort three
    # times — three corpus scans and three sort shuffles at 100 TB
    # (the VERDICT r3 #4 recompute failure mode).  MEMORY_AND_DISK so
    # oversized partitions spill; freed by clearCache / teardown.
    obs = (
        pos.select(
            "doc_id",
            F.lag("term").over(w).alias("w1"),
            F.col("term").alias("w2"),
        )
        .filter(F.col("w1").isNotNull())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bf = obs.groupBy("w1", "w2").agg(F.count("*").alias("bc"))
    cf = obs.groupBy("w1").agg(F.count("*").alias("cc"))
    # r15 (guide §2.3 — shuffle fewer bytes): compose the model FIRST.
    # Joining cf onto the obs⋈bf result re-shuffled the CORPUS-scale
    # joined stream a second time (on w1); bf⋈cf is a vocab²-scale
    # join, so attaching cc to the model table and then making ONE
    # corpus-scale attach on (w1, w2) removes a full corpus exchange.
    # Per-pair surprisal is computed once in the model and carried as
    # a double — same arithmetic per row, identical output (oracle
    # hash-verified both SFs); A/B at sf0.1: 1.74/1.60/1.83 before vs
    # 1.60/1.46/1.86 after (−5%), the structural win is the removed
    # corpus-scale w1 exchange.
    model = bf.join(cf, ["w1"]).withColumn(
        "__s", -F.log(F.col("bc").cast("double") / F.col("cc"))
    )
    return (
        obs.join(model.select("w1", "w2", "__s"), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.round(F.avg("__s"), 6).alias("bigram_surprisal"),
            F.count("*").alias("n_bigrams"),
        )
    )


#: char-level polynomial hash modulus — keeps fp < 2^30 so the bucket
#: product below stays far inside int64
_FP_MOD = 1_000_000_007

CMS_WIDTH = 64
CMS_DEPTH = 3
CMS_SEED_STRIDE = 1_000_003
_TOP_K = 20

_TOKS_SQL = r"string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+')"

#: char-level polynomial fingerprint of a term, SQL form (DuckDB)
_FP_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split(term, ''), "
    "c -> CAST(ascii(c) AS BIGINT))), "
    f"(a, b) -> (a * 31 + b) % {_FP_MOD})"
)


def term_fingerprint(col: Column | str) -> Column:
    """Char-level polynomial rolling hash of a term, mod 1e9+7 —
    < 2^30 by construction, deterministic, identical in DuckDB via
    list_reduce (same fold as operators/text.py:fingerprint but over
    characters of one token rather than tokens of one document)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.aggregate(
        F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: (acc * 31 + v) % F.lit(_FP_MOD),
    )


def cms_bucket(fp: Column, j: Column) -> Column:
    """Depth-row ``j``'s bucket for a term fingerprint: one Knuth
    multiply then fold to [0, CMS_WIDTH).  fp < 2^30 and j < depth
    bound the product below 2^62 — exact int64 in both engines, so
    unlike the A-ES hash no split-halves multiply is needed."""
    return (
        ((fp + j * F.lit(CMS_SEED_STRIDE)) * F.lit(KNUTH))
        % F.lit(2**32)
        % F.lit(CMS_WIDTH)
    )


def term_counts(docs: DataFrame) -> DataFrame:
    """Exact per-term counts — the single corpus-scale shuffle both
    sketch entries reduce to.  Tokenization is
    operators/text.py:tokens, the repo-wide whitespace contract."""
    toks = docs.filter(F.length(F.trim("text")) > 0).select(
        F.explode(tokens("text")).alias("term")
    )
    return (
        toks.filter(F.length("term") > 0)
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
    )


def countmin_sketch(counts: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(keyed rows, sketch): the per-(term, depth-row) bucket rows and
    the aggregated (j, bucket, counter) Count-Min sketch — the sketch
    is CMS_DEPTH x CMS_WIDTH rows total, whatever the corpus."""
    rows = counts.select(
        "term",
        "cnt",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("j"),
        term_fingerprint("term").alias("fp"),
    ).withColumn("bucket", cms_bucket(F.col("fp"), F.col("j")))
    return rows, rows.groupBy("j", "bucket").agg(F.sum("cnt").alias("counter"))


@register(
    "countmin_heavy_hitters",
    f"""
    WITH toks AS (
      SELECT t AS term
      FROM documents, UNNEST({_TOKS_SQL}) AS u(t)
      WHERE length(trim(text)) > 0 AND length(t) > 0),
    counts AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
    keyed AS (SELECT term, cnt, {_FP_SQL} AS fp FROM counts),
    rows_ AS (
      SELECT term, cnt, j,
             ((fp + j * {CMS_SEED_STRIDE}) * {KNUTH})
               % 4294967296 % {CMS_WIDTH} AS bucket
      FROM keyed, UNNEST([{", ".join(map(str, range(CMS_DEPTH)))}]) AS g(j)),
    sketch AS (
      SELECT j, bucket, CAST(sum(cnt) AS BIGINT) AS counter
      FROM rows_ GROUP BY j, bucket),
    est AS (
      SELECT term, cnt, min(counter) AS cms_estimate
      FROM rows_ JOIN sketch USING (j, bucket) GROUP BY term, cnt)
    SELECT rank, term, exact_cnt, cms_estimate, over_ok FROM (
      SELECT row_number() OVER (ORDER BY cnt DESC, term) AS rank,
             term, cnt AS exact_cnt, cms_estimate,
             cms_estimate >= cnt AS over_ok
      FROM est)
    WHERE rank <= {_TOP_K}
    """,
    doc="§7 sketch: Count-Min heavy hitters (depth 3 x width 64, "
    "deterministic Knuth-hash buckets over a <2^30 char-poly term "
    "fingerprint, so the oracle restates the sketch exactly).  The "
    "sketch is 192 counters whatever the corpus size — the mergeable "
    "per-shard shape at 1000 executors; estimates can only OVER-count "
    "(emitted as the over_ok invariant).  One corpus-scale shuffle "
    "(term hash-agg); sketch re-agg and estimate join-back are "
    "vocabulary-scale; the sketch side of the join is broadcast; "
    "top-k via orderBy().limit(k) = TakeOrderedAndProject, never an "
    "unpartitioned window over the vocabulary.",
)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = term_counts(docs)
    rows, sketch = countmin_sketch(counts)
    est = (
        rows.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("term", "cnt")
        .agg(F.min("counter").alias("cms_estimate"))
    )
    # top-k as orderBy().limit(k) = TakeOrderedAndProject (per-partition
    # k-heaps + driver merge), NOT an unpartitioned row_number window over
    # the full vocabulary — at 100 TB the distinct-token vocabulary is
    # billions of rows and a global window funnels them through ONE task.
    # Same shape as weighted_sample_topk; the window below ranks only the
    # k survivors.  (VERDICT r13 #2.)
    w = Window.orderBy(F.col("cnt").desc(), "term")
    top = est.orderBy(F.col("cnt").desc(), "term").limit(_TOP_K)
    return top.select(
        F.row_number().over(w).alias("rank"),
        "term",
        F.col("cnt").alias("exact_cnt"),
        "cms_estimate",
        (F.col("cms_estimate") >= F.col("cnt")).alias("over_ok"),
    )


@register(
    "bpe_pair_merge",
    f"""
    WITH words AS (
      SELECT t AS word, count(*) AS wcnt
      FROM documents, UNNEST({_TOKS_SQL}) AS u(t)
      WHERE length(trim(text)) > 0 AND length(t) >= 2
      GROUP BY t),
    pairs AS (
      SELECT substr(word, CAST(i AS INTEGER), 2) AS pair, wcnt
      FROM words, UNNEST(range(1, length(word))) AS g(i)),
    pc AS (SELECT pair, CAST(sum(wcnt) AS BIGINT) AS cnt
           FROM pairs GROUP BY pair)
    SELECT rank, pair, cnt FROM (
      SELECT row_number() OVER (ORDER BY cnt DESC, pair) AS rank,
             pair, cnt
      FROM pc)
    WHERE rank <= {_TOP_K}
    """,
    doc="§7 tokenizer: BPE merge-candidate counting — top adjacent "
    "char pairs weighted by word frequency, the inner step of BPE "
    "tokenizer training.  Corpus is aggregated to DISTINCT-word "
    "counts FIRST (the only corpus-scale shuffle); the pair explosion "
    "runs over the vocabulary (corpus-size-independent), exactly how "
    "production BPE trainers count.  Top-k via orderBy().limit(k) = "
    "TakeOrderedAndProject (per-partition heaps), with a total "
    "(cnt desc, pair) tiebreak; row_number ranks only the k survivors.",
)
def bpe_pair_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # same corpus-scale agg as countmin (term_counts); the length>=2
    # word filter commutes with the per-term count, so it runs on the
    # vocabulary after the shuffle
    words = (
        term_counts(docs)
        .filter(F.length("term") >= 2)
        .select(F.col("term").alias("word"), F.col("cnt").alias("wcnt"))
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(word)-1), "
                   "i -> substring(word, i, 2))")
        ).alias("pair"),
        "wcnt",
    )
    pc = pairs.groupBy("pair").agg(F.sum("wcnt").alias("cnt"))
    # pair cardinality is charset²-bounded (corpus-independent), but use
    # the same TakeOrderedAndProject top-k shape as countmin for
    # consistency: limit first, rank only the k survivors (VERDICT r13 #2)
    w = Window.orderBy(F.col("cnt").desc(), "pair")
    top = pc.orderBy(F.col("cnt").desc(), "pair").limit(_TOP_K)
    return top.select(
        F.row_number().over(w).alias("rank"), "pair", "cnt"
    )
