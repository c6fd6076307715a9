"""Text-analysis operators for training-data pipelines (SURVEY §7):
token counting, quality scoring, language ID, document fingerprinting.

All pure JVM-side column expressions (split / transform / aggregate /
regexp) — no Python UDFs — so they run inside whole-stage codegen and
scale linearly with the scan.  Every function here has a deterministic,
ANSI-SQL-expressible definition so the DuckDB oracle can replay it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: modulus for the polynomial rolling fingerprint (fits in int64 fold)
FINGERPRINT_MOD = 1_000_000_007

#: small deterministic stopword lists per language for the n-gram/
#: marker-word language-ID heuristic and the quality score.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "for", "on"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr": ("le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"),
}

ENGLISH_STOPWORDS = LANG_MARKERS["en"]

#: the whitespace characters, spelled out: Java's and RE2's shorthand
#: classes disagree on \x0B, so every engine-side regex builds on this
#: set and every oracle restates it literally (ADVICE r10 contract)
WHITESPACE = r" \t\n\x0B\f\r"
#: one whitespace run — the tokenizer's split pattern
WS_RUN = f"[{WHITESPACE}]+"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of lowercased, trimmed text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(F.trim(c)), WS_RUN)


def nonspace_length(col: Column | str) -> Column:
    """Character count of the trimmed text with all whitespace removed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.regexp_replace(F.trim(c), WS_RUN, ""))


def token_count(col: Column | str, toks: Column | None = None) -> Column:
    """Whitespace token count; empty/blank text counts 0.

    ``toks`` lets hot paths pass a pre-projected token array so the
    tokenizer isn't re-evaluated per referencing expression (see
    dedup.shingles docstring for the Catalyst CollapseProject note).
    """
    c = F.col(col) if isinstance(col, str) else col
    t = toks if toks is not None else tokens(c)
    return F.when(F.trim(c) == "", F.lit(0)).otherwise(F.size(t)).alias(
        "token_count"
    )


def _marker_hits(toks: Column, markers: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def quality_features(col: Column | str, toks: Column | None = None) -> list[Column]:
    """Quality-scoring feature block: char length, word count, punct
    count, stopword ratio, mean word length, and a composite score in
    [0,1].  The score formula is arbitrary-but-deterministic; what
    matters is that filtering on it is reproducible at any scale."""
    c = F.col(col) if isinstance(col, str) else col
    toks = toks if toks is not None else tokens(c)
    wc = F.when(F.trim(c) == "", F.lit(0)).otherwise(F.size(toks))
    n_chars = F.length(c)
    punct = F.regexp_count(c, F.lit(r"[.!?,;:]"))
    stop_hits = _marker_hits(toks, ENGLISH_STOPWORDS)
    stop_ratio = F.when(wc > 0, stop_hits / wc).otherwise(F.lit(0.0))
    mean_word_len = F.when(wc > 0, nonspace_length(c) / wc).otherwise(F.lit(0.0))
    # integer-valued composite in [0, 1000]: length term (<=500) +
    # stopword term (<=300) + word-shape term (200).  Integer arithmetic
    # end-to-end so the score can never land on a float rounding
    # boundary (hash-stable across engines).
    score = (
        F.least(wc, F.lit(100)) * 5
        + F.when(wc > 0, F.least(F.floor(stop_hits * 1500 / wc), F.lit(300))).otherwise(0)
        + F.when((mean_word_len >= 3) & (mean_word_len <= 10), 200).otherwise(0)
    ).cast("long")
    return [
        n_chars.alias("n_chars"),
        wc.alias("word_count"),
        punct.alias("punct_count"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        score.alias("quality_score"),
    ]


def lang_id(col: Column | str, toks: Column | None = None) -> Column:
    """Marker-word language ID: count stopword hits per language,
    argmax with a fixed priority order (en > de > es > fr), 'und'
    (undetermined) when nothing matches."""
    c = F.col(col) if isinstance(col, str) else col
    toks = toks if toks is not None else tokens(c)
    hits = {lang: _marker_hits(toks, m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*hits.values())
    expr = F.when(best <= 0, F.lit("und"))
    for lang in ("en", "de", "es", "fr"):  # fixed tie-break priority
        expr = expr.when(hits[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit("und")).alias("lang_pred")


#: BPE-ish pre-tokenizer: word pieces, numbers, or single
#: non-space-non-word symbols — the GPT-2-style split shape, minus
#: lookaheads so the same pattern runs in Spark (Java regex) and
#: DuckDB (RE2) identically.
SUBWORD_PATTERN = f"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{WHITESPACE}]"


def subword_token_count(col: Column | str) -> Column:
    """BPE-ish regex token count — the subword-rate estimate a training
    pipeline budgets with (a word like "don't" counts 3: don / ' / t).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(SUBWORD_PATTERN), F.lit(0))).alias(
        "subword_count"
    )


def fingerprint(col: Column | str, toks: Column | None = None) -> Column:
    """Polynomial rolling hash over the token stream, mod 1e9+7 —
    an order-sensitive document fingerprint (reorderings change it,
    unlike a bag-of-words hash).  Per token the contribution is
    ``ascii(first char) + length``; the fold is ``acc*31 + v``.
    Expressible in DuckDB as list_reduce for the oracle."""
    c = F.col(col) if isinstance(col, str) else col
    vals = F.transform(toks if toks is not None else tokens(c),
                       lambda t: F.ascii(t) + F.length(t))
    return F.aggregate(
        vals,
        F.lit(0).cast("long"),
        lambda acc, v: (acc * 31 + v) % FINGERPRINT_MOD,
    ).alias("fingerprint")


def analyze(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Full text-analysis projection over a documents table.

    Two-step select: the token array is projected ONCE, then every
    feature references it — one tokenizer pass per row instead of one
    per feature expression."""
    t = F.col("__toks")
    return docs.withColumn("__toks", tokens(text_col)).select(
        *docs.columns,
        token_count(text_col, toks=t),
        *quality_features(text_col, toks=t),
        lang_id(text_col, toks=t),
        fingerprint(text_col, toks=t),
    )
