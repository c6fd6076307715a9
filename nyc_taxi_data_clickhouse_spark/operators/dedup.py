"""Deduplication operators for training-data pipelines (SURVEY §7):
exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine.

Scale design notes (the part that matters at 100 TB):

- Exact dedup is a hash aggregation on the normalized key — one
  shuffle, map-side partial combine, no collect.
- N-gram Jaccard NEVER does the naive N² self-join: candidate pairs
  come from an equi-join on shared shingles (only docs sharing at
  least one shingle meet), intersection counts from a groupBy, and
  the exact Jaccard from two broadcast-able size lookups.
- MinHash+LSH replaces "join on every shingle" with "join on band
  key": 64 hashes -> 16 bands of 4 -> docs collide only if a whole
  band agrees.  The signature build is ONE groupBy over the exploded
  shingles (64 min() aggregates, all JVM-side); candidate
  verification re-computes exact Jaccard on candidates only.
- SimHash pairs use the pigeonhole trick: hamming(a,b) <= k means at
  least one of k+1 chunks of the 64-bit key is equal, so candidates
  come from k+1 equi-joins on chunk values, not a cross join.
- Embedding near-dup keeps the exact all-pairs form only as the
  small-N baseline; the scale path is the LSH bucketing in
  ``similarity.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nyc_taxi_data_clickhouse_spark import partitioning
from nyc_taxi_data_clickhouse_spark.operators.text import WS_RUN, tokens

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def normalize_text(col: Column | str) -> Column:
    """Canonical form for exact dedup: lowercase, trim, collapse
    internal whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), WS_RUN, " ")


def dedup_exact(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id representative per normalized text; report
    group size.  One hash-agg shuffle; no windows, no collect."""
    key = normalize_text(text_col).alias("__norm")
    return (
        docs.select(F.col(id_col), key)
        .groupBy("__norm")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("group_size"),
        )
        .select("keep_id", "group_size")
    )


# ---------------------------------------------------------------------------
# shingles (shared by Jaccard + MinHash)
# ---------------------------------------------------------------------------

def shingles_from_tokens(t: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a pre-projected token-array
    column.  ``slice`` + ``array_join`` (NOT per-position element_at:
    each element_at reference re-evaluates its argument subtree per
    element, turning shingling O(tokens²) — measured 15x slower).

    Documents with fewer than ``n`` tokens have NO n-gram shingles —
    guarded BRANCH-FREE: ``sequence(1, 0)`` would otherwise count DOWN
    to ``[1, 0]`` and feed ``slice`` the invalid start 0 (a real crash
    on single-word / empty documents).  The guard clamps the index
    list instead of wrapping the grams in a CASE WHEN: the sequence
    upper bound is floored at 1 (always a legal ascending range) and
    the index list is then sliced to ``max(upper, 0)`` entries, so
    sub-``n`` docs get an empty index list and therefore an empty
    shingle array.  A ``when(size >= n, grams)`` wrapper computes the
    same thing but cost dedup_minhash_lsh 2.7 s -> 5.3 s at sf0.1
    (round-4 A/B, same JVM, alternating runs) — the branch around the
    higher-order transform defeats the projection's codegen."""
    upper = F.size(t) - (n - 1)
    idxs = F.slice(
        F.sequence(F.lit(1), F.greatest(upper, F.lit(1))),
        1,
        F.greatest(upper, F.lit(0)),
    )
    return F.array_distinct(
        F.transform(idxs, lambda i: F.array_join(F.slice(t, i, n), " "))
    )


def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of lowercased text (array<string>).

    Convenience form; hot paths should pre-project ``tokens(col)`` into
    its own column and call ``shingles_from_tokens`` — a projection
    boundary stops Catalyst's CollapseProject from inlining (and thus
    re-evaluating) the tokenizer once per array reference."""
    return shingles_from_tokens(tokens(col), n)


def _shingle_table(
    docs: DataFrame, text_col: str, id_col: str, n: int, hashed: bool = True
) -> DataFrame:
    """(id, shingle) exploded distinct-shingle table.

    ``hashed=True`` emits xxhash64(shingle) longs instead of strings:
    the candidate join then shuffles 8-byte keys, not n-word strings.
    Collision risk at 64 bits is ~|shingles|²/2^64 — negligible."""
    base = docs.select(F.col(id_col).alias("__id"), tokens(text_col).alias("__t"))
    exploded = base.select(
        "__id", F.explode(shingles_from_tokens(F.col("__t"), n)).alias("__sh_str")
    )
    if hashed:
        return exploded.select("__id", F.xxhash64("__sh_str").alias("__sh"))
    return exploded.withColumnRenamed("__sh_str", "__sh")


def _shingle_sizes(docs: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, distinct-shingle count) computed directly from the array —
    no explode, no shuffle (vs groupBy over the exploded table)."""
    base = docs.select(F.col(id_col).alias("__id"), tokens(text_col).alias("__t"))
    return base.select(
        "__id", F.size(shingles_from_tokens(F.col("__t"), n)).alias("__n")
    )


def cap_shingle_df(sh: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df`` from a
    ``(id, shingle)`` table — the skew guard for candidate generation.

    On web-scale corpora, boilerplate shingles (navigation chrome,
    license headers) appear in millions of docs; joining on them makes
    the candidate join quadratic in the hot key's df.  The df count is
    a hash aggregation (map-side partial combine absorbs the hot keys);
    the over-cap set is by construction the small heavy tail, so it is
    BROADCAST and removed with an anti-join — the shingle table itself
    is never reshuffled.
    """
    hot = (
        sh.groupBy("__sh")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("__sh")
    )
    return sh.join(F.broadcast(hot), "__sh", "left_anti")


def _verified_jaccard(
    candidates: DataFrame, sh: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard over (id_a, id_b) candidate pairs, from the FULL
    shingle table: |A∩B| via the candidate-restricted shingle join,
    |A|,|B| joined from the size table."""
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        candidates.join(a, F.col("id_a") == F.col("a.__id"))
        .join(b, (F.col("id_b") == F.col("b.__id")) & (F.col("a.__sh") == F.col("b.__sh")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("id_a") == F.col("sa.__id"))
        .join(sb, F.col("id_b") == F.col("sb.__id"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("__inter")
                / (F.col("sa.__n") + F.col("sb.__n") - F.col("__inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


#: hash-spread sample bound for the live calibration probe
_CALIBRATION_SAMPLE_DOCS = 4096


def _calibrated_jaccard_partitions(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    bytes_per_shingle: float | None = None,
) -> int | None:
    """Data-calibrated shuffle width for the shingle exchanges
    (VERDICT r9 item 4).  The former fixed bytes-expansion factor was
    calibrated on THIS corpus's text stats; corpora with much longer
    docs or different shingle widths change the explosion ratio
    several-fold.  Here the expansion is derived live:

        shingle rows ~ N_docs x avg shingles/doc        (measured)
        width = ceil(rows x bytes_per_shingle / 128 MB)

    avg shingles/doc comes from a deterministic hash-spread sample of
    ~2x4096 docs (``pmod(xxhash64(id), K) == 0`` — layout-independent,
    same pattern as the IVF fit sample), so the probe is one
    column-pruned count plus one sampled tokenize, independent of
    corpus size.  Cost gating: the probe runs ONLY when the static
    conservative estimate already engages (derived n > session
    default), so every small-SF plan stays byte-identical AND
    job-count-identical to the un-sized one.

    ``bytes_per_shingle`` defaults to jaccard's
    ``partitioning.JACCARD_SORT_BYTES_PER_SHINGLE``.  The static gate's
    expansion scales with it, so a lighter footprint (minhash's 128 B)
    skips the probe wherever the width it would derive cannot clear the
    session default either."""
    if bytes_per_shingle is None:
        bytes_per_shingle = partitioning.JACCARD_SORT_BYTES_PER_SHINGLE
    static_n = partitioning.sized_shuffle_partitions(
        docs.select(id_col, text_col),
        partitioning.JACCARD_SHUFFLE_EXPANSION
        * bytes_per_shingle
        / partitioning.JACCARD_SORT_BYTES_PER_SHINGLE,
    )
    if static_n is None:
        return None
    n_docs = docs.select(id_col).count()
    if n_docs == 0:
        return None
    k = max(1, n_docs // (2 * _CALIBRATION_SAMPLE_DOCS))
    sample = docs.filter(
        F.pmod(F.xxhash64(F.col(id_col), F.lit(77)), F.lit(k)) == 0
    )
    avg_sh = (
        _shingle_sizes(sample, text_col, id_col, n)
        .agg(F.avg("__n"))
        .collect()[0][0]
    )
    if avg_sh is None or avg_sh <= 0:
        return static_n
    return partitioning.sized_partitions_for_rows(
        int(n_docs * float(avg_sh)),
        bytes_per_shingle,
        docs.sparkSession,
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs (id_a < id_b, jaccard).

    Candidates from the shared-shingle equi-join; |A∩B| from the pair
    groupBy; |A| and |B| joined in from the per-doc size table.

    ``max_df`` is the hot-shingle skew guard: shingles present in more
    than ``max_df`` docs are excluded from CANDIDATE GENERATION (see
    :func:`cap_shingle_df`), and surviving candidates are re-verified
    against the FULL shingle sets, so reported jaccard values are
    exact.  The only pairs the cap can lose are those sharing *no*
    sub-cap shingle — i.e. pure-boilerplate near-dups, which exact
    dedup on normalized text catches far more cheaply.  Without a cap
    the fused single-pass plan is used.

    ``shuffle_partitions`` (VERDICT r8 item 1, calibration r9 item 4):
    partition count for the shingle-keyed exchange feeding the
    self-join.  Default None derives it live from the corpus via
    :func:`_calibrated_jaccard_partitions` — measured shingle rows x
    per-row sort footprint — engaging only when the data outgrows the
    session default, so small-SF plans are byte-identical (and
    job-count-identical) to the un-sized ones.  Because the hot-shingle
    groupBy, the anti-join and the self-join all key on ``__sh``, ONE
    repartition up front is reused by every downstream exchange — the
    sized shuffle replaces the default-sized one instead of adding a
    stage; the x256 probe showed the 32-partition self-join sorting
    2.2 GB/task (70.4 GB spill) where ~512 partitions kept sorts
    in-memory at -26 % CPU.
    """
    if shuffle_partitions is None:
        shuffle_partitions = _calibrated_jaccard_partitions(
            docs, text_col, id_col, n
        )
    sh = _shingle_table(docs, text_col, id_col, n)
    if shuffle_partitions:
        sh = sh.repartition(shuffle_partitions, "__sh")
    sizes = _shingle_sizes(docs, text_col, id_col, n)

    if max_df is not None:
        # The capped path references the shingle table many times —
        # without a persist Catalyst re-executes the tokenize->shingle->
        # explode subtree per reference, i.e. ~6 full corpus scans at
        # 100 TB (VERDICT r3 #4: 2.8 s -> 10.9 s at sf0.1).
        # MEMORY_AND_DISK so oversized partitions spill instead of OOM;
        # freed by the caller's clearCache / session teardown (the
        # result is lazy, so eager unpersist would defeat the cache).
        #
        # Shape: ONE fused self-join over the capped table yields both
        # the candidate pairs and their sub-cap intersection counts; the
        # full (exact) intersection then only needs a correction for
        # shared HOT shingles — and the hot-restricted shingle table is
        # by construction the small heavy tail, so the correction joins
        # never reshuffle the full corpus (unlike re-verifying every
        # candidate against the complete shingle sets, which shuffles
        # the whole exploded table twice more).
        from pyspark import StorageLevel

        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
        sizes = sizes.persist(StorageLevel.MEMORY_AND_DISK)
        hot = (
            sh.groupBy("__sh")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("__sh")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        capped = sh.join(F.broadcast(hot), "__sh", "left_anti")
        ca = capped.alias("ca")
        cb = capped.alias("cb")
        pairs_raw = ca.join(
            cb,
            (F.col("ca.__sh") == F.col("cb.__sh"))
            & (F.col("ca.__id") < F.col("cb.__id")),
        ).select(
            F.col("ca.__id").alias("id_a"), F.col("cb.__id").alias("id_b")
        )
        if shuffle_partitions:
            # size the PAIR exchange too (r9 x256 arm: with only the
            # self-join sized, the remaining default-width agg/join
            # exchanges still spilled 30.7 GB; widening them to the
            # data zeroed the spill and cut CPU a further 22 %).  The
            # repartition trades map-side combine for a sized final
            # aggregation — measured net-positive at the decade (the
            # per-__sh-partition combine compresses little, because a
            # pair's shared shingles scatter across shingle partitions)
            pairs_raw = pairs_raw.repartition(
                shuffle_partitions, "id_a", "id_b"
            )
        inter_c = pairs_raw.groupBy("id_a", "id_b").agg(
            F.count("*").alias("__ic")
        )
        sh_hot = sh.join(F.broadcast(hot), "__sh")
        ha = sh_hot.alias("ha")
        hb = sh_hot.alias("hb")
        inter_h = (
            inter_c.select("id_a", "id_b")
            .join(ha, F.col("id_a") == F.col("ha.__id"))
            .join(
                hb,
                (F.col("id_b") == F.col("hb.__id"))
                & (F.col("ha.__sh") == F.col("hb.__sh")),
            )
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("__ih"))
        )
        inter = (
            inter_c.join(inter_h, ["id_a", "id_b"], "left")
            .withColumn(
                "__inter", F.col("__ic") + F.coalesce(F.col("__ih"), F.lit(0))
            )
        )
        sa = sizes.alias("sa")
        sb = sizes.alias("sb")
        return (
            inter.join(sa, F.col("id_a") == F.col("sa.__id"))
            .join(sb, F.col("id_b") == F.col("sb.__id"))
            .select(
                "id_a",
                "id_b",
                (
                    F.col("__inter")
                    / (F.col("sa.__n") + F.col("sb.__n") - F.col("__inter"))
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
        )

    a = sh.alias("a")
    b = sh.alias("b")
    pairs_raw = a.join(
        b,
        (F.col("a.__sh") == F.col("b.__sh")) & (F.col("a.__id") < F.col("b.__id")),
    ).select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
    if shuffle_partitions:
        # same pair-exchange sizing as the capped branch (see above)
        pairs_raw = pairs_raw.repartition(shuffle_partitions, "id_a", "id_b")
    inter = pairs_raw.groupBy("id_a", "id_b").agg(F.count("*").alias("__inter"))
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = (
        inter.join(sa, F.col("id_a") == F.col("sa.__id"))
        .join(sb, F.col("id_b") == F.col("sb.__id"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("__inter")
                / (F.col("sa.__n") + F.col("sb.__n") - F.col("__inter"))
            ).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    max_df: int | None = None,
    sh: DataFrame | None = None,
) -> DataFrame:
    """(id, sig array<long>) — minimum of ``xxhash64(shingle, seed_i)``
    per seed.  One explode + one groupBy with num_hashes min()
    aggregates; entirely JVM-side.  ``max_df`` drops over-ubiquitous
    shingles first (see :func:`cap_shingle_df`): boilerplate shingles
    otherwise dominate signatures and pull unrelated docs into the
    same LSH bands.  ``sh`` lets a caller supply a prebuilt (usually
    persisted) shingle table so the tokenize subtree is not re-derived."""
    if sh is None:
        sh = _shingle_table(docs, text_col, id_col, n)
    if max_df is not None:
        sh = cap_shingle_df(sh, max_df)
    mins = [
        F.min(F.xxhash64(F.col("__sh"), F.lit(i))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = sh.groupBy("__id").agg(*mins)
    return sig.select(
        F.col("__id").alias("id"),
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.9,
    max_df: int | None = None,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash LSH banding, verified with exact
    Jaccard (so output equals the exact operator's, up to the
    vanishingly small LSH miss probability: at s=0.9, 16 bands x 4
    rows, P(miss) = (1-0.9^4)^16 ≈ 4e-8).

    Band key: xxhash64 over the band's slice of the signature.
    Candidates collide on (band index, band hash) — an equi-join-able
    key, no cross join anywhere.  ``max_df`` caps shingle document
    frequency in the SIGNATURE build only (hot-shingle skew guard);
    verification always uses the full shingle sets, so reported
    jaccard values stay exact.

    ``shuffle_partitions`` (VERDICT r15 item 1): width for the
    shingle-keyed exchanges.  The r15 x512 probe proved a real 1.24
    marginal CPU slope with exactly-linear shuffle bytes and zero
    spill — per-task hash/sort state growing under the fixed session
    width, the same class the jaccard calibrated width removed (r8:
    -26 % CPU).  Default None derives the width live via the SAME
    calibration machinery the jaccard path uses (identical shingle
    geometry: same tokenize, same n) but with minhash's own per-row
    footprint (``partitioning.MINHASH_SORT_BYTES_PER_SHINGLE`` — no
    pair explosion here, so jaccard's 1024 B/row over-widens ~8x and
    measured +30 % at the x64 probe), engaging only above the session
    default, so small-SF plans stay byte-identical.  When it engages,
    the persisted shingle table is hash-partitioned ONCE on ``__id`` at
    the derived width: the signature groupBy and the a-leg of the exact
    verification join are keyed on ``__id`` and reuse that exchange.
    The b-leg is keyed on (``__id``, ``__sh``).  The r16 stage profiles
    (PySpark 4.1.2, default co-partitioning rules such as
    ``spark.sql.requireAllClusterKeysForCoPartition``) show it reusing
    the ``__id`` exchange too, so no shingle-scale exchange re-shuffles
    the table at the session width.  That reuse is the planner's
    choice: another Spark version, config or surrounding plan may add
    an exchange there.
    """
    rows_per_band = num_hashes // bands
    if shuffle_partitions is None:
        shuffle_partitions = _calibrated_jaccard_partitions(
            docs,
            text_col,
            id_col,
            n,
            bytes_per_shingle=partitioning.MINHASH_SORT_BYTES_PER_SHINGLE,
        )
    # r14: persist the FULL shingle table once — the cap's df groupBy,
    # the signature aggregate, and BOTH verification join sides derive
    # from it, and without the persist Catalyst re-executes the
    # tokenize->shingle->explode subtree per reference (~4 corpus scans
    # at 100 TB — the same VERDICT r3 #4 failure mode the capped
    # jaccard branch fixed; measured here: 1.56 -> 1.33 s mean at
    # sf0.1, values identical).  track_persist = MEMORY_AND_DISK
    # (oversized partitions spill instead of OOM) with bounded cache
    # growth across repeated calls: the label carries the analyzed
    # plan's semantic hash, so re-running the same corpus reuses one
    # slot while different inputs never evict each other mid-use.
    from nyc_taxi_data_clickhouse_spark.scratch import track_persist

    sh_full = _shingle_table(docs, text_col, id_col, n)
    if shuffle_partitions:
        # one sized exchange INTO the cache replaces the 3 session-width
        # exchanges its consumers would otherwise each pay (signature
        # groupBy + both verification legs, all keyed on __id)
        sh_full = sh_full.repartition(shuffle_partitions, "__id")
    sem = sh_full._jdf.queryExecution().analyzed().semanticHash()
    sh_full = track_persist(f"minhash_sh:{sem}", sh_full)
    sig = minhash_signature(
        docs, text_col, id_col, n, num_hashes, max_df=max_df, sh=sh_full
    )

    band_entries = sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[
                            F.element_at("sig", b * rows_per_band + r + 1)
                            for r in range(rows_per_band)
                        ]
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )
    if shuffle_partitions:
        # size the band self-join exchange too (the r9 jaccard lesson,
        # re-measured here: with only the shingle table sized, the
        # band-join/distinct stages still ran at the session width and
        # were the x512 probe's fastest-growing stages — per-task sort
        # state doubling per decade).  Keyed on the join key, so the
        # join reuses this exchange instead of adding one.
        band_entries = band_entries.repartition(
            shuffle_partitions, "band", "band_hash"
        )
    ba = band_entries.alias("ba")
    bb = band_entries.alias("bb")
    candidates = ba.join(
        bb,
        (F.col("ba.band") == F.col("bb.band"))
        & (F.col("ba.band_hash") == F.col("bb.band_hash"))
        & (F.col("ba.id") < F.col("bb.id")),
    ).select(F.col("ba.id").alias("id_a"), F.col("bb.id").alias("id_b"))
    if shuffle_partitions:
        # ... and the candidate-dedup exchange (same keys as the
        # distinct, so it is the distinct's exchange, just sized)
        candidates = candidates.repartition(
            shuffle_partitions, "id_a", "id_b"
        )
    candidates = candidates.distinct()

    # verify candidates with exact Jaccard over the FULL (persisted)
    # shingle sets.  r16: |A| comes from the persisted shingle table
    # (one row per DISTINCT shingle string — shingles_from_tokens is
    # array_distinct — so the per-doc row count IS the set size;
    # within-doc hash collisions cannot merge rows), replacing the
    # second full tokenize pass (_shingle_sizes re-derived the corpus:
    # a ~650 core-s map-only stage at the x256 probe, 22 % of the
    # operator's CPU) with a count over the cache.  Docs with zero
    # shingles are absent from the grouped table, but they are equally
    # absent from the signature (same groupBy source), so they can
    # never reach the inner size joins as candidates — semantics
    # identical (oracle hash-checked both SFs).
    sizes = sh_full.groupBy("__id").agg(F.count("*").alias("__n"))
    return _verified_jaccard(candidates, sh_full, sizes, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """(id, simhash long): per-bit majority vote over xxhash64(token).

    Implemented as ONE groupBy with ``bits`` sum() aggregates of ±1
    contributions — no per-bit explode, no UDF.
    """
    tok = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("__t"),
    ).withColumn("__h", F.xxhash64("__t"))
    votes = [
        F.sum(
            F.when(F.shiftright("__h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy("id").agg(*votes)
    # assemble the key: sum of 2^i over positive-vote bits
    key = None
    for i in range(bits):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        key = term if key is None else key.bitwiseOR(term)
    return agg.select("id", key.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs with hamming(simhash_a, simhash_b) <= max_hamming via the
    pigeonhole chunk join: split 64 bits into (max_hamming+1) chunks;
    any qualifying pair agrees exactly on >= 1 chunk, so candidates
    come from equi-joins on chunk value — never a cross join."""
    n_chunks = max_hamming + 1
    chunk_bits = 64 // n_chunks
    sh = simhash(docs, text_col, id_col)

    chunk_exprs = [
        F.shiftright("simhash", c * chunk_bits)
        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
        .alias(f"c{c}")
        for c in range(n_chunks)
    ]
    keyed = sh.select("id", "simhash", *chunk_exprs)
    # VERDICT r15 item 4: the signature table feeds BOTH legs of all
    # n_chunks chunk joins (2*(max_hamming+1) = 8 references at the
    # default).  ReuseExchange only dedups the groupBy exchange BELOW
    # the final aggregate, so without a persist the 64-sum simhash
    # vote aggregation itself re-executes once per reference — at
    # 100 TB that is 8 corpus-scale aggregations for one signature
    # table (the minhash/capped-jaccard VERDICT r3 #4 class).  Same
    # track_persist pattern: semantic-hash label, MEMORY_AND_DISK,
    # freed by the caller's clearCache / session teardown.
    from nyc_taxi_data_clickhouse_spark.scratch import track_persist

    sem = keyed._jdf.queryExecution().analyzed().semanticHash()
    keyed = track_persist(f"simhash_keyed:{sem}", keyed)

    cand = None
    for c in range(n_chunks):
        a = keyed.alias("a")
        b = keyed.alias("b")
        part = a.join(
            b, (F.col(f"a.c{c}") == F.col(f"b.c{c}")) & (F.col("a.id") < F.col("b.id"))
        ).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        cand = part if cand is None else cand.unionAll(part)

    return (
        cand.distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup (exact small-N baseline)
# ---------------------------------------------------------------------------

def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns, folded in
    DOUBLE (sequential, deterministic — matches the DuckDB DOUBLE[]
    oracle to 1 ulp).

    A zero vector has no direction, so its cosine against anything is
    defined as 0.0 (no similarity) rather than an ANSI DIVIDE_BY_ZERO
    — zero embeddings are a normal corruption mode in real embedding
    tables (failed encoder calls, padding rows) and must not kill the
    whole job."""
    def dot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    return F.coalesce(
        F.try_divide(dot(a, b), F.sqrt(dot(a, a)) * F.sqrt(dot(b, b))),
        F.lit(0.0),
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
) -> DataFrame:
    """All-pairs exact cosine near-dup (id_a < id_b, cos >= threshold).

    O(N²) — correct baseline for modest N (dedup of a candidate pool);
    the 100 TB path is LSH bucketing (similarity.lsh_bucket_pairs)."""
    a = emb.alias("a")
    b = emb.alias("b")
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 4).alias("cos"))
    )


# ---------------------------------------------------------------------------
# connected components (near-dup cluster assignment)
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over an undirected pair graph by iterative
    min-label propagation: every node repeatedly adopts the smallest
    label among itself and its neighbors until a fixpoint.

    Returns (node, component) for every node that appears in ``pairs``;
    ``component`` is the smallest node id in the node's component.

    Scale notes: each iteration is one join + one groupBy (two
    shuffles) over the edge list; iterations = graph diameter, which
    for near-dup clusters (quasi-cliques) is small.  Lineage is
    truncated per iteration with ``localCheckpoint`` so the plan does
    not grow unboundedly.  For adversarial graphs (long chains) use
    ``connected_components_star`` (O(log n)-round alternating
    large-star/small-star); this propagation variant raises
    ``RuntimeError`` if ``max_iter`` rounds pass without reaching the
    fixpoint, rather than silently returning partial labels.
    """
    # materialize the (possibly expensive) pair pipeline ONCE: edges
    # and labels below each force an eager job, and without this both
    # would re-execute the full upstream candidate generation (measured
    # at sf0.1: the near-dup pair pipeline is ~2.3 s of the entry —
    # running it twice dominated the whole operator)
    pairs = pairs.localCheckpoint(eager=True)
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("component").alias("__nmin"))
        )
        updated = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    "component", F.coalesce("__nmin", F.col("component"))
                ).alias("component"),
                (
                    F.coalesce("__nmin", F.col("component")) < F.col("component")
                ).cast("int").alias("__changed"),
            )
        ).localCheckpoint(eager=True)
        n_changed = updated.agg(F.sum("__changed")).collect()[0][0] or 0
        labels = updated.drop("__changed")
        if n_changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations "
        f"({n_changed} labels still changing) — the pair graph has "
        f"diameter > max_iter (adversarial chain?); use "
        f"connected_components_star, which needs O(log n) rounds"
    )


def _canonical_edges(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Undirected edge list as distinct (lo, hi) with self-loops dropped."""
    return (
        pairs.select(
            F.least(F.col(a), F.col(b)).alias("lo"),
            F.greatest(F.col(a), F.col(b)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )


def _union_find_member(edges: DataFrame) -> DataFrame:
    """(node, component) for every endpoint of a SMALL edge list via a
    single-task union-find (``coalesce(1)`` + ``mapInPandas`` — no
    driver collect; the state lives in one executor task).  Component
    = min node id, matching the star fixpoint's labeling: union always
    parents the larger root under the smaller, so every root is its
    set's minimum."""
    import pandas as pd  # noqa: F401  (worker-side)

    def uf(batches):
        import pandas as _pd

        parent: dict = {}
        seen: set = set()

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for lo, hi in zip(pdf["lo"].tolist(), pdf["hi"].tolist()):
                seen.add(lo)
                seen.add(hi)
                ra, rb = find(lo), find(hi)
                if ra == rb:
                    continue
                if ra > rb:
                    ra, rb = rb, ra
                parent[rb] = ra
        if seen:
            ns = sorted(seen)
            yield _pd.DataFrame(
                {"node": ns, "component": [find(n) for n in ns]}
            )

    return edges.coalesce(1).mapInPandas(uf, schema="node long, component long")


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 40,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the adversarial-graph scale path: converges in O(log n)
    rounds on ANY graph shape (a diameter-n chain takes ~log n rounds,
    where min-label propagation needs n).

    large-star(u): every neighbor v > u re-attaches to
    m = min(N(u) ∪ {u}).  small-star(u): every smaller neighbor (and u
    itself) attaches to the same m over the high->low orientation.
    Both are one groupBy + one join over the edge list — the same
    shuffle shape as a round of propagation, but the edge list
    contracts geometrically.  At the fixpoint the graph is a union of
    stars centered at each component's minimum id.

    Returns (node, component) for every node in ``pairs``; raises
    ``RuntimeError`` if ``max_rounds`` passes without a fixpoint
    (cannot happen for max_rounds > ~2 log2 n; guards miswired inputs).

    The hybrid finish (``partitioning.STAR_LOCAL_FINISH_EDGES``): star
    rounds contract the edge list geometrically, so the TAIL rounds run
    the full 5-job round machinery over a tiny remnant — pure per-round
    fixed latency.  Once the edge count is at or below that threshold,
    one single-task union-find (:func:`_union_find_member`) replaces
    all remaining rounds: identical labels (min id per component), one
    job instead of O(log remnant) rounds.  At 100 TB the rounds do the
    heavy contraction and the local finish absorbs the latency-bound
    tail.

    Checkpoint lifecycle note: each round eagerly localCheckpoints the
    contracted edge list (the standard iterative-Spark pattern — it
    truncates the exponentially deepening lineage).  Superseded rounds'
    blocks are freed by the ContextCleaner as the Python references
    drop; on a cluster the blocks are distributed and this pacing is a
    non-issue, but a SINGLE-JVM stress harness running several
    ~100M-edge invocations back-to-back can outrun the cleaner and
    exhaust the heap — run one JVM per measurement arm there
    (`probe.py star --variants sized`; see BENCH_NOTES round 10).
    """
    # one eager materialization of the pair pipeline: edges and nodes
    # both force jobs, and each would otherwise re-execute the whole
    # upstream candidate generation (the dominant cost at small SF —
    # see the same note in connected_components)
    pairs = pairs.localCheckpoint(eager=True)
    edges = _canonical_edges(pairs, id_a, id_b).localCheckpoint(eager=True)
    nodes = (
        pairs.select(F.col(id_a).alias("node"))
        .union(pairs.select(F.col(id_b).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def finish_local(e: DataFrame) -> DataFrame:
        member = _union_find_member(e)
        return nodes.join(member, "node", "left").select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        )

    finish_edges = partitioning.STAR_LOCAL_FINISH_EDGES
    n_edges = edges.count()  # cheap: edges is eagerly checkpointed
    if finish_edges and n_edges <= finish_edges:
        return finish_local(edges)
    prev_fp = None
    for _ in range(max_rounds):
        # Join-strategy gate for the round joins (r8 x256 probe,
        # BENCH_NOTES): below the bound the per-key min tables fit the
        # 64 MB auto-broadcast and the planner broadcasts them (the
        # small-scale fast path — leave it alone).  Above it the
        # un-hinted fallback is sort-merge, which sorts BOTH sides
        # every round; the min tables have UNIQUE keys (one row per
        # group key — the safe shuffle-hash build case, no skew
        # possible on the build side), so hint shuffle_hash and skip
        # the sorts.  n_edges is already known per round from the
        # fixpoint fingerprint — the gate costs zero extra jobs.
        rh = partitioning.star_round_join_hint(n_edges)
        # Data-sized round shuffles (VERDICT r8 item 1): the fixpoint
        # fingerprint already carries the exact entering edge count, so
        # the round's group/join exchanges can be sized to the data for
        # free (partitioning.STAR_BYTES_PER_EDGE per undirected edge
        # row; engages only above the session default).
        n_round = partitioning.sized_partitions_for_rows(
            2 * n_edges, partitioning.STAR_BYTES_PER_EDGE, pairs.sparkSession
        )
        rp = (
            (lambda d, key: d.repartition(n_round, key))
            if n_round
            else (lambda d, key: d)
        )
        # ---- large-star: from each undirected edge's smaller endpoint
        # u, re-attach the larger endpoint to min(N(u) ∪ {u})
        und = rp(
            edges.select(F.col("lo").alias("u"), F.col("hi").alias("v")).union(
                edges.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
            ),
            "u",
        )
        nbr_min = und.groupBy("u").agg(F.min("v").alias("__mv"))
        large = (
            und.join(rh(nbr_min), "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("a"),
                F.least(F.col("u"), F.col("__mv")).alias("b"),
            )
        )
        edges = _canonical_edges(large, "a", "b").localCheckpoint(eager=True)

        # ---- small-star over the high->low orientation: (lo, hi) is
        # already that orientation, so N⁻(hi) = its lo partners
        small_in = rp(edges, "hi")
        low_min = small_in.groupBy("hi").agg(F.min("lo").alias("__m"))
        small = (
            small_in.join(rh(low_min), "hi")
            .select(F.col("lo").alias("a"), F.col("__m").alias("b"))
            .union(low_min.select(F.col("hi").alias("a"), F.col("__m").alias("b")))
        )
        edges = _canonical_edges(small, "a", "b").localCheckpoint(eager=True)

        # fixpoint check: order-insensitive edge-set fingerprint
        # (count + hash xor; xor can't overflow under ANSI mode and
        # edges are distinct so cancellation can't hide a change) —
        # two scalar aggs, one driver row
        fp_row = edges.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("lo", "hi")), F.lit(0)).alias("h"),
        ).collect()[0]
        fp = (fp_row["n"], fp_row["h"])
        n_edges = fp[0]  # entering count for the next round's join gate
        if fp == prev_fp:
            member = edges.groupBy(F.col("hi").alias("node")).agg(
                F.min("lo").alias("component")
            )
            return nodes.join(member, "node", "left").select(
                "node", F.coalesce("component", F.col("node")).alias("component")
            )
        # hybrid finish: fp already carries the post-round edge count
        if finish_edges and fp[0] <= finish_edges:
            return finish_local(edges)
        prev_fp = fp
    raise RuntimeError(
        f"connected_components_star did not reach a fixpoint in "
        f"{max_rounds} rounds — miswired input? (needs ~2·log2(n))"
    )
