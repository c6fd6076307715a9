"""Operator-level tests: dedup family, similarity search, text
analysis edge cases, multimodal plumbing (SURVEY §7)."""

from __future__ import annotations

import pytest
import random
from pyspark.sql import functions as F

from nyc_taxi_data_clickhouse_spark import partitioning
from nyc_taxi_data_clickhouse_spark.operators import dedup, similarity, text
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").cache()


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def test_dedup_exact_with_planted_dups(spark, docs):
    # plant exact duplicates (with case/whitespace noise) and verify
    # they collapse to the lowest id
    noisy = docs.limit(5).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.upper(F.concat(F.lit("  "), F.col("text"), F.lit(" "))).alias("text"),
    )
    combined = docs.select("doc_id", "text").unionAll(noisy)
    result = dedup.dedup_exact(combined)
    assert result.count() == docs.count()  # noisy copies merged
    assert result.filter(F.col("group_size") == 2).count() == 5
    kept = result.filter(F.col("group_size") == 2).agg(F.max("keep_id")).collect()[0][0]
    assert kept < 1_000_000  # lowest id kept


def test_minhash_lsh_equals_exact_jaccard(spark, docs):
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.9).collect()
    }
    assert lsh == exact
    assert len(exact) > 0, "sf0.001 should contain planted near-dups"


def test_shingle_df_cap_bounds_candidates_keeps_true_dups(spark):
    """Planted boilerplate: 40 docs share a navigation sentence; docs
    0/1 are additionally true near-dups.  The df cap must (a) remove
    the boilerplate shingles from candidate generation, (b) collapse
    the candidate count from quadratic-in-40 to just the true pair,
    (c) leave the reported pairs and exact jaccard unchanged."""
    boiler = "all rights reserved copyright acme corporation navigation menu"
    rows = []
    for i in range(40):
        unique = f"document {i} body sentence alpha{i} beta{i} gamma{i} delta{i}"
        rows.append((i, f"{boiler} {unique}"))
    # make 0/1 true near-dups: same body except one trailing token
    rows[1] = (1, rows[0][1] + " tail")
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sh = dedup._shingle_table(docs, "text", "doc_id", 3)
    capped = dedup.cap_shingle_df(sh, max_df=5)
    # (a) boilerplate shingles (df=40) are gone; per-doc uniques remain
    assert capped.count() < sh.count()
    max_remaining_df = (
        capped.groupBy("__sh").count().agg(F.max("count")).collect()[0][0]
    )
    assert max_remaining_df <= 5

    def n_candidates(tbl):
        a, b = tbl.alias("a"), tbl.alias("b")
        return (
            a.join(
                b,
                (F.col("a.__sh") == F.col("b.__sh"))
                & (F.col("a.__id") < F.col("b.__id")),
            )
            .select("a.__id", "b.__id")
            .distinct()
            .count()
        )

    # (b) uncapped: every one of the 40*39/2 pairs is a candidate
    assert n_candidates(sh) == 40 * 39 // 2
    assert n_candidates(capped) <= 2  # the true dup (plus at most noise)

    # (c) capped result identical to uncapped for the true pairs
    uncapped_pairs = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.6).collect()
    }
    capped_pairs = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.6, max_df=5).collect()
    }
    assert capped_pairs == uncapped_pairs
    assert (0, 1) in {(a, b) for a, b, _ in capped_pairs}
    # minhash path with the same cap also keeps the true pair
    mh = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.6, max_df=5).collect()
    }
    assert (0, 1) in mh


def test_simhash_pigeonhole_equals_bruteforce(spark, docs):
    sh = dedup.simhash(docs.limit(100))
    a, b = sh.alias("a"), sh.alias("b")
    brute = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("h"),
        )
        .filter(F.col("h") <= 3)
        .collect()
    }
    pig = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_pairs(docs.limit(100), max_hamming=3).collect()
    }
    assert pig == brute


def test_simhash_near_identical_texts_close(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
        (3, "completely different words about spark shuffle partitions and columnar scans"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {r["id"]: r["simhash"] for r in dedup.simhash(df).collect()}

    def hamming(x, y):
        return bin((x ^ y) & (2**64 - 1)).count("1")

    assert hamming(sh[1], sh[2]) < hamming(sh[1], sh[3])


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------

def test_lsh_topk_recall(spark, emb):
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.lsh_topk(
            emb, queries, dim=64, k=5, n_planes=3, n_tables=20
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    # the sf0.001 corpus is tiny (top-5 "neighbors" sit near cos 0, so
    # P(plane agrees) ~0.5): per-table hit 0.5^3, over 20 tables recall
    # ~1-(0.875)^20 ~ 0.93; assert a safe floor.  Real corpora with
    # close neighbors get much better recall at higher plane counts.
    assert recall >= 0.75, f"LSH recall too low: {recall:.2f}"


def test_brute_force_topk_self_excluded_and_ranked(spark, emb):
    res = similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=3)
    rows = res.collect()
    assert len(rows) == 3
    assert all(r["neighbor_id"] != 0 for r in rows)
    cos = [r["cos"] for r in rows]
    assert cos == sorted(cos, reverse=True)
    assert [r["rank"] for r in rows] == [1, 2, 3]


# ---------------------------------------------------------------------------
# text edge cases
# ---------------------------------------------------------------------------

def test_text_repetition_planted_cases(spark):
    """Gopher/C4 repetition signals on planted docs: a spam doc whose
    top bigram dominates must flag repetitive; diverse text must not;
    blank and single-token docs keep NULL fractions and don't flag."""
    from nyc_taxi_data_clickhouse_spark.operators.analysis import text_repetition
    import tempfile
    from pathlib import Path

    rows = [
        (1, "buy now " * 10),                    # top bigram 'buy now' dominates
        (2, "one two three four five six"),      # diverse
        (3, ""),                                  # blank
        (4, "word"),                              # single token
        (5, "spam spam spam spam ok"),            # top unigram 4/5 > 0.3
    ]
    d = tempfile.mkdtemp(prefix="rep_test_")
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(Path(d) / "documents.parquet"))
    got = {r["doc_id"]: r for r in text_repetition(spark, d).collect()}

    assert got[1]["repetitive"] and got[1]["top_bigram_frac"] > 0.5
    assert not got[2]["repetitive"]
    assert got[3]["n_tokens"] == 0 and got[3]["top_unigram_frac"] is None
    assert got[4]["n_tokens"] == 1 and got[4]["top_bigram_frac"] is None
    assert not got[4]["repetitive"]
    assert got[5]["repetitive"] and got[5]["top_unigram_frac"] == 0.8
    import shutil

    shutil.rmtree(d, ignore_errors=True)


def test_vowel_ratio_udf_empty_text_is_null(spark):
    """Empty text -> NULL (not 0.0), matching the SQL oracle's
    nullif(length, 0) divide — the fixture corpus has no empty docs so
    this pins the divergence case explicitly (ADVICE r1)."""
    from nyc_taxi_data_clickhouse_spark.functions.vectorized import vowel_ratio_udf

    df = spark.createDataFrame(
        [(1, ""), (2, "aeiou"), (3, "xyz"), (4, None)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["vr"]
        for r in df.select("doc_id", vowel_ratio_udf()("text").alias("vr")).collect()
    }
    assert got[1] is None
    assert got[2] == 1.0
    assert got[3] == 0.0
    assert got[4] is None


def test_text_empty_and_blank(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one two three")], "doc_id long, text string"
    )
    out = text.analyze(df).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["token_count"] == 0
    assert by_id[2]["token_count"] == 0
    assert by_id[3]["token_count"] == 3
    assert by_id[1]["quality_score"] == 0
    assert by_id[1]["fingerprint"] == 0  # empty fold -> init value


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog in the house"),
            (2, "der hund und die katze ist nicht hier"),
            (3, "el perro y la casa que es grande"),
            (4, "xyzzy plugh qwerty"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lang_pred"] for r in df.select("doc_id", text.lang_id("text")).collect()}
    assert got == {1: "en", 2: "de", 3: "es", 4: "und"}


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha")], "doc_id long, text string"
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in df.select("doc_id", text.fingerprint("text")).collect()}
    assert fp[1] != fp[2]


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

def test_featurize_media_fake_deterministic(spark):
    from nyc_taxi_data_clickhouse_spark.operators.multimodal import (
        FEATURE_DIM,
        featurize_media,
        pack_media,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"payload-a")), (2, bytearray(b"payload-b")), (3, None)],
        "media_id long, payload binary",
    )
    media = pack_media(df, "payload", "image/jpeg")
    out1 = {r["media_id"]: r for r in featurize_media(media, fake=True).collect()}
    out2 = {r["media_id"]: r for r in featurize_media(media, fake=True).collect()}
    assert out1[1]["feature"] == out2[1]["feature"]  # deterministic
    assert len(out1[1]["feature"]) == FEATURE_DIM
    assert all(0.0 <= v < 1.0 for v in out1[1]["feature"])
    assert out1[1]["feature"] != out1[2]["feature"]
    assert out1[3]["feature"] is None and out1[3]["sha256"] is None
    assert out1[1]["n_bytes"] == 9


def test_decode_media_raises_without_codec():
    from nyc_taxi_data_clickhouse_spark.operators.multimodal import decode_media

    # no stdlib codec for video containers
    with pytest.raises(NotImplementedError):
        decode_media(b"\x00\x00\x00\x18ftypmp42", "video/mp4", fake=False)
    # JPEG now has a real parser: malformed JPEG is a parse error,
    # not a missing-codec error
    with pytest.raises(ValueError):
        decode_media(b"\xff\xd8jpegbytes", "image/jpeg", fake=False)


def test_decode_ppm_golden():
    """Hand-written P6 with a header comment: 2x2, distinct pixels."""
    from nyc_taxi_data_clickhouse_spark.operators.multimodal import decode_media

    raster = bytes(
        [255, 0, 0,   0, 255, 0,
         0, 0, 255,   10, 20, 30]
    )
    payload = b"P6\n# a comment\n2 2\n255\n" + raster
    d = decode_media(payload, "image/x-portable-pixmap")
    assert (d["kind"], d["width"], d["height"], d["channels"]) == ("image", 2, 2, 3)
    assert d["n_pixels"] == 4
    assert d["pixel_sum"] == 255 * 3 + 10 + 20 + 30
    assert d["pixels"] == list(raster)
    assert len(d["feature"]) == 16 and abs(sum(d["feature"]) - 1.0) < 1e-9


def test_decode_pgm_golden():
    from nyc_taxi_data_clickhouse_spark.operators.multimodal import decode_media

    payload = b"P5\n3 1\n255\n" + bytes([0, 128, 255])
    d = decode_media(payload, "image/x-portable-graymap")
    assert (d["width"], d["height"], d["channels"]) == (3, 1, 1)
    assert d["pixel_sum"] == 383


def test_decode_bmp_golden():
    """Hand-built 24-bpp BMP: 2x2 bottom-up, rows padded to 4 bytes.

    Pixel layout (image coordinates, top-left origin):
        (0,0)=red (255,0,0)   (1,0)=green (0,255,0)
        (0,1)=blue (0,0,255)  (1,1)=white (255,255,255)
    Stored bottom-up (last row first) in BGR order, stride 8 (2px*3B
    padded to 8).
    """
    import struct

    from nyc_taxi_data_clickhouse_spark.operators.multimodal import decode_media

    def bgr(r, g, b):
        return bytes([b, g, r])

    row_bottom = bgr(0, 0, 255) + bgr(255, 255, 255) + b"\x00\x00"  # y=1
    row_top = bgr(255, 0, 0) + bgr(0, 255, 0) + b"\x00\x00"         # y=0
    pixel_data = row_bottom + row_top  # bottom-up
    dib = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(pixel_data), 0, 0, 0, 0)
    offset = 14 + 40
    header = b"BM" + struct.pack("<IHHI", offset + len(pixel_data), 0, 0, offset)
    payload = header + dib + pixel_data
    d = decode_media(payload, "image/bmp")
    assert (d["kind"], d["width"], d["height"], d["channels"]) == ("image", 2, 2, 3)
    # pixels come back top-down, RGB
    assert d["pixels"] == [255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255]
    assert d["pixel_sum"] == 255 * 6


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    body = ctype + data
    return (
        struct.pack(">I", len(data))
        + body
        + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
    )


def _png_payload(width, height, colortype, channels, rows) -> bytes:
    """Assemble a PNG from pre-filtered scanlines (filter_type, bytes)."""
    import struct
    import zlib

    raw = b"".join(bytes([f]) + bytes(line) for f, line in rows)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, colortype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def test_decode_png_golden_rgb():
    """2x2 RGB PNG, filter 0 rows: pixels come back exactly."""
    from nyc_taxi_data_clickhouse_spark.operators.multimodal import decode_media

    rows = [(0, [255, 0, 0, 0, 255, 0]), (0, [0, 0, 255, 10, 20, 30])]
    d = decode_media(_png_payload(2, 2, 2, 3, rows), "image/png")
    assert (d["kind"], d["width"], d["height"], d["channels"]) == ("image", 2, 2, 3)
    assert d["pixels"] == [255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30]
    assert d["pixel_sum"] == 255 * 3 + 60
    assert len(d["feature"]) == 16


def test_decode_png_all_filters():
    """One row per filter type 0-4 on a gray gradient; the unfiltered
    raster must equal the original wall-values.

    Filtered bytes are hand-derived: row y has pixels (y, y+1, y+2, y+3)
    so Sub deltas are 1s, Up deltas are 1s, Average/Paeth predictors are
    exercised against both left and up neighbors."""
    from nyc_taxi_data_clickhouse_spark.operators.multimodal import decode_media

    w = 4
    want = [[y + x for x in range(w)] for y in range(5)]

    def filt(y, ftype):
        line = want[y]
        prev = want[y - 1] if y > 0 else [0] * w
        out = []
        for k in range(w):
            a = line[k - 1] if k > 0 else 0
            b = prev[k]
            c = prev[k - 1] if k > 0 else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out.append((line[k] - pred) & 0xFF)
        return out

    rows = [(f, filt(y, f)) for y, f in enumerate([0, 1, 2, 3, 4])]
    d = decode_media(_png_payload(w, 5, 0, 1, rows), "image/png")
    assert (d["width"], d["height"], d["channels"]) == (4, 5, 1)
    assert d["pixels"] == [v for row in want for v in row]


def test_decode_png_rgba_and_unsupported():
    import struct

    from nyc_taxi_data_clickhouse_spark.operators.multimodal import decode_media

    # RGBA 1x1: all four bytes (incl. alpha) count toward pixel_sum
    d = decode_media(_png_payload(1, 1, 6, 4, [(0, [10, 20, 30, 40])]), "image/png")
    assert (d["channels"], d["pixel_sum"]) == (4, 100)

    # palette (colortype 3) and 16-bit depth raise ValueError
    with pytest.raises(ValueError):
        decode_media(_png_payload(1, 1, 3, 1, [(0, [0])]), "image/png")
    bad_depth = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        decode_media(bad_depth, "image/png")


def test_decode_wav_golden():
    import io
    import struct
    import wave

    from nyc_taxi_data_clickhouse_spark.operators.multimodal import decode_media

    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(8000)
        f.writeframes(struct.pack("<4h", 100, -200, 0, 300))
    d = decode_media(buf.getvalue(), "audio/wav")
    assert (d["kind"], d["sample_rate"], d["n_samples"]) == ("audio", 8000, 4)
    assert d["abs_sum"] == 600
    assert d["samples"] == [100, -200, 0, 300]


def _ref_idct_block(qcoef, qt):
    """Independent IDCT oracle (numpy matrix form, not the codec's own
    loop): dequantize, 2-D type-III DCT, round, level-shift, clamp."""
    import numpy as np

    F_ = np.asarray(qcoef, dtype=float).reshape(8, 8) * np.asarray(
        qt, dtype=float
    ).reshape(8, 8)
    M = np.zeros((8, 8))
    for x in range(8):
        for u in range(8):
            M[x, u] = (
                (1 / np.sqrt(2) if u == 0 else 1.0)
                * np.cos((2 * x + 1) * u * np.pi / 16)
                / 2
            )
    return np.clip(np.round(M @ F_ @ M.T) + 128, 0, 255).astype(int)


_JPEG_QL = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
_JPEG_QC = [
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
] + [99] * 32


def test_progressive_jpeg_decodes_identically_to_baseline():
    """A progressive (SOF2) stream built from the same quantized
    blocks must decode to the SAME pixels as the baseline stream —
    across grayscale / 4:4:4 / 4:2:0, dense and sparse AC content,
    magnitude-1 coefficients (newly-significant-only refinement), and
    both scan scripts (spectral-selection-only and full successive
    approximation)."""
    import random

    from nyc_taxi_data_clickhouse_spark.operators.multimodal import (
        _build_jpeg_codec,
    )

    enc, dec = _build_jpeg_codec()
    rng = random.Random(7)

    def rand_blocks(nby, nbx, dense=0.2, amp=30):
        return {
            (by, bx): [rng.randint(-60, 60)]
            + [rng.randint(-amp, amp) if rng.random() < dense else 0
               for _ in range(63)]
            for by in range(nby)
            for bx in range(nbx)
        }

    sparse = {
        (by, bx): ([rng.randint(-20, 20)] + [0] * 62 + [rng.randint(1, 3)]
                   if (by + bx) % 3 == 0 else [0] * 64)
        for by in range(4)
        for bx in range(4)
    }
    ones = {
        (by, bx): [rng.choice([-1, 1]) if i % 7 == 0 else 0
                   for i in range(64)]
        for by in range(3)
        for bx in range(3)
    }
    cases = [
        (16, 16, [rand_blocks(2, 2)], [(1, 1)]),
        (24, 16, [rand_blocks(2, 3), rand_blocks(2, 3, 0.1),
                  rand_blocks(2, 3, 0.1)], [(1, 1)] * 3),
        (32, 32, [rand_blocks(4, 4), rand_blocks(2, 2, 0.1),
                  rand_blocks(2, 2, 0.1)], [(2, 2), (1, 1), (1, 1)]),
        (32, 32, [sparse], [(1, 1)]),
        (24, 24, [ones], [(1, 1)]),
    ]
    for w, h, blocks, samp in cases:
        ref = dec(enc(w, h, blocks, samp))
        for successive in (False, True):
            prog = enc.progressive(w, h, blocks, samp,
                                   successive=successive)
            # SOF2 marker actually present (it IS a progressive stream)
            assert b"\xff\xc2" in prog.split(b"\xff\xda")[0]
            assert dec(prog) == ref, (w, h, successive)


def test_progressive_jpeg_long_zero_runs_exercise_eobn_and_zrl():
    """>16-zero gaps and whole-block EOB runs across many blocks force
    ZRL and EOBn (run > 1) coding in both first and refinement scans,
    including correction bits buffered across the run."""
    from nyc_taxi_data_clickhouse_spark.operators.multimodal import (
        _build_jpeg_codec,
    )

    enc, dec = _build_jpeg_codec()
    blocks = {}
    for by in range(5):
        for bx in range(5):
            blk = [0] * 64
            k = by * 5 + bx
            if k % 4 == 0:
                blk[0] = 8
                blk[18] = 5   # 17 zeros after DC -> ZRL in band scans
                blk[60] = -3  # 41-zero interior gap -> two more ZRLs
            blocks[(by, bx)] = blk
    ref = dec(enc(40, 40, [blocks], [(1, 1)]))
    for successive in (False, True):
        got = dec(enc.progressive(40, 40, [blocks], [(1, 1)],
                                  successive=successive))
        assert got == ref


def test_jpeg_dc_lattice_roundtrip_exact():
    """The synthesizer contract: even-luma DC-only blocks round-trip the
    lossy format bit-exactly (quantizer step divides the coefficient)."""
    from nyc_taxi_data_clickhouse_spark.operators.multimodal import (
        _build_jpeg_codec,
        decode_media,
    )

    enc, dec = _build_jpeg_codec()
    for i in (0, 1, 2, 3, 127, 255, 1000):
        gray = i % 2 == 0
        luma = {
            (by, bx): [(2 * ((i + by * 2 + bx) % 128) - 128) // 2] + [0] * 63
            for by in range(2)
            for bx in range(2)
        }
        comps = [luma] if gray else [luma, {}, {}]
        payload = enc(16, 16, comps, [(1, 1)] * len(comps))
        d = decode_media(payload, "image/jpeg")
        assert (d["kind"], d["width"], d["height"]) == ("image", 16, 16)
        assert d["channels"] == (1 if gray else 3)
        assert d["pixel_sum"] == d["channels"] * 64 * sum(
            2 * ((i + b) % 128) for b in range(4)
        )


def test_jpeg_ac_and_restart_vs_independent_idct():
    """General entropy coding (AC runs, ZRL/EOB, restart markers) against
    a numpy IDCT the codec does not share code with."""
    import numpy as np

    from nyc_taxi_data_clickhouse_spark.operators.multimodal import (
        _build_jpeg_codec,
    )

    enc, dec = _build_jpeg_codec()
    rng = np.random.RandomState(42)
    blocks, expect = {}, {}
    for by in range(2):
        for bx in range(3):
            b = rng.randint(-9, 10, size=64)
            blocks[(by, bx)] = list(b)
            expect[(by, bx)] = _ref_idct_block(b, _JPEG_QL)
    w, h, c, px = dec(enc(24, 16, [blocks], [(1, 1)], restart_interval=2))
    assert (w, h, c) == (24, 16, 1)
    arr = np.array(px).reshape(16, 24)
    for (by, bx), exp in expect.items():
        assert (arr[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] == exp).all()


def test_jpeg_420_subsampled_color():
    """4:2:0 MCU interleave + nearest chroma upsample + YCbCr->RGB."""
    import numpy as np

    from nyc_taxi_data_clickhouse_spark.operators.multimodal import (
        _build_jpeg_codec,
    )

    enc, dec = _build_jpeg_codec()
    rng = np.random.RandomState(7)
    luma, explum = {}, {}
    for by in range(2):
        for bx in range(2):
            b = rng.randint(-9, 10, size=64)
            luma[(by, bx)] = list(b)
            explum[(by, bx)] = _ref_idct_block(b, _JPEG_QL)
    cb = rng.randint(-3, 4, size=64)
    cr = rng.randint(-3, 4, size=64)
    payload = enc(
        16, 16,
        [luma, {(0, 0): list(cb)}, {(0, 0): list(cr)}],
        [(2, 2), (1, 1), (1, 1)],
    )
    w, h, c, px = dec(payload)
    assert (w, h, c) == (16, 16, 3)
    expcb = _ref_idct_block(cb, _JPEG_QC)
    expcr = _ref_idct_block(cr, _JPEG_QC)
    arr = np.array(px).reshape(16, 16, 3)
    for y in range(16):
        for x in range(16):
            yv = explum[(y // 8, x // 8)][y % 8, x % 8]
            b_ = expcb[y // 2, x // 2]
            r_ = expcr[y // 2, x // 2]
            want = [
                max(0, min(255, int(round(yv + 1.402 * (r_ - 128))))),
                max(0, min(255, int(round(
                    yv - 0.344136 * (b_ - 128) - 0.714136 * (r_ - 128))))),
                max(0, min(255, int(round(yv + 1.772 * (b_ - 128))))),
            ]
            assert list(arr[y, x]) == want


def test_jpeg_odd_dims_and_unsupported_sof_rejected():
    import numpy as np

    from nyc_taxi_data_clickhouse_spark.operators.multimodal import (
        _build_jpeg_codec,
    )

    enc, dec = _build_jpeg_codec()
    rng = np.random.RandomState(3)
    blocks, expect = {}, {}
    for by in range(2):
        for bx in range(2):
            b = rng.randint(-5, 6, size=64)
            blocks[(by, bx)] = list(b)
            expect[(by, bx)] = _ref_idct_block(b, _JPEG_QL)
    w, h, c, px = dec(enc(12, 10, [blocks], [(1, 1)]))
    assert (w, h, c) == (12, 10, 1)
    arr = np.array(px).reshape(10, 12)
    for y in range(10):
        for x in range(12):
            assert arr[y, x] == expect[(y // 8, x // 8)][y % 8, x % 8]

    # progressive (SOF2) is now IN scope; truly-unsupported coding
    # modes (lossless SOF3, arithmetic SOF9) must still say so
    payload = bytearray(enc(8, 8, [{(0, 0): [0] * 64}], [(1, 1)]))
    idx = payload.find(b"\xff\xc0")
    for sof in (0xC3, 0xC9):
        payload[idx + 1] = sof
        with pytest.raises(NotImplementedError):
            dec(bytes(payload))


def test_featurize_media_real_decode(spark):
    """fake=False end-to-end through mapInPandas on a real PPM payload."""
    from nyc_taxi_data_clickhouse_spark.operators.multimodal import (
        featurize_media,
        pack_media,
    )

    payload = b"P6\n2 1\n255\n" + bytes([10, 20, 30, 40, 50, 60])
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "media_id long, payload binary"
    )
    media = pack_media(df, "payload", "image/x-portable-pixmap")
    r = featurize_media(media, fake=False).first()
    assert (r["kind"], r["width"], r["height"], r["channels"]) == ("image", 2, 1, 3)
    assert r["n_pixels"] == 2 and r["pixel_sum"] == 210
    assert r["n_bytes"] == len(payload)


def test_resize_images_real_nearest_neighbor(spark):
    """2x2 distinct-color PPM -> 1x1: nearest neighbor picks top-left;
    the emitted payload is itself a decodable P6."""
    from nyc_taxi_data_clickhouse_spark.operators.multimodal import (
        decode_media,
        pack_media,
        resize_images,
    )

    raster = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9])
    payload = b"P6\n2 2\n255\n" + raster
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "media_id long, payload binary"
    )
    media = pack_media(df, "payload", "image/x-portable-pixmap")
    r = resize_images(media, max_side=1, fake=False).first()
    assert (r["out_width"], r["out_height"]) == (1, 1)
    d = decode_media(bytes(r["resized"]), "image/x-portable-pixmap")
    assert d["pixels"] == [255, 0, 0]  # src index floor(0 * 2/1) = 0


def test_resample_audio_real_linear_interp(spark):
    import io
    import struct
    import wave

    from nyc_taxi_data_clickhouse_spark.operators.multimodal import (
        decode_media,
        pack_media,
        resample_audio,
    )

    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(16_000)
        f.writeframes(struct.pack("<h", 500) * 100)
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()))], "media_id long, payload binary"
    )
    media = pack_media(df, "payload", "audio/wav")
    r = resample_audio(media, target_hz=8000, fake=False).first()
    assert r["n_samples"] == 50
    assert r["abs_sum"] == 50 * 500  # constant signal survives interpolation
    d = decode_media(bytes(r["pcm"]), "audio/wav")
    assert d["sample_rate"] == 8000 and d["n_samples"] == 50
    assert all(s == 500 for s in d["samples"])


def test_synthesize_media_closed_form(spark):
    from nyc_taxi_data_clickhouse_spark.operators.multimodal import (
        decode_media,
        synthesize_media,
    )

    ids = spark.createDataFrame([(7,), (123,)], "media_id long")
    img = {r["media_id"]: bytes(r["payload"])
           for r in synthesize_media(ids, "image").collect()}
    d = decode_media(img[123], "image/x-portable-pixmap")
    w, h = 4 + 123 % 5, 3 + 123 % 7
    assert (d["width"], d["height"]) == (w, h)
    assert d["pixel_sum"] == w * h * ((123 % 256) + (123 * 7 % 256) + (123 * 13 % 256))
    wav = {r["media_id"]: bytes(r["payload"])
           for r in synthesize_media(ids, "audio").collect()}
    a = decode_media(wav[7], "audio/wav")
    assert a["n_samples"] == 200 + 7 % 50
    assert a["abs_sum"] == (200 + 7 % 50) * (100 + 7 % 900)


def test_sample_frames_grid(spark):
    from nyc_taxi_data_clickhouse_spark.operators.multimodal import sample_frames

    df = spark.createDataFrame(
        [(1, bytearray(b"videobytes"))], "media_id long, payload binary"
    ).select(
        "media_id",
        F.struct(
            F.col("payload").alias("bytes"),
            F.lit("video/mp4").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(3500).cast("long").alias("duration_ms"),
        ).alias("media"),
    )
    rows = sample_frames(df, every_ms=1000).collect()
    assert [r["frame_ts_ms"] for r in rows] == [0, 1000, 2000, 3000]
    assert len({r["frame_digest"] for r in rows}) == 4  # distinct per frame


def test_lsh_bucket_pairs_precision_and_recall(spark, emb):
    """Scale-path near-dup: exact-cosine verification makes precision
    1.0; recall floor from the plane/table math."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs(emb, threshold=0.4).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in similarity.lsh_bucket_pairs(
            emb, dim=64, threshold=0.4, n_planes=4, n_tables=16
        ).collect()
    }
    assert approx <= exact  # precision 1.0 by construction
    if exact:
        recall = len(approx) / len(exact)
        assert recall >= 0.5, f"bucket-pair recall too low: {recall:.2f}"


def test_ivf_topk_recall(spark, emb):
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(emb, queries, k=5, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    # tiny corpus, near-orthogonal neighbors: probing 4 of ~3 cells
    # covers most of the corpus; expect high recall here
    assert recall >= 0.6, f"IVF recall too low: {recall:.2f}"


def test_ivf_fit_input_is_bounded(spark, emb, monkeypatch):
    """VERDICT r8 item 4: the coarse quantizer must fit on a bounded
    sample, never the full corpus.  With a cap below the corpus size,
    KMeans.fit must receive at most cap rows — spied at the .fit call —
    and the operator must still return a well-formed per-query top-k.

    VERDICT r9 item 1: the sampled fit input must be HASH-SPREAD, not a
    partition-order head prefix — asserted on the fit input's analyzed
    plan (xxhash64 spread key + hash-order sort), fed a worst-case
    layout (single partition sorted by id) where a head prefix would
    sample exactly ids [0, cap)."""
    from pyspark.ml.clustering import KMeans

    n = emb.count()
    cap = max(2, n // 3)
    fit_sizes, fit_plans = [], []
    orig_fit = KMeans.fit

    def spy_fit(self, dataset, *a, **kw):
        fit_sizes.append(dataset.count())
        fit_plans.append(dataset._jdf.queryExecution().analyzed().toString())
        return orig_fit(self, dataset, *a, **kw)

    monkeypatch.setattr(KMeans, "fit", spy_fit)
    queries = emb.filter(F.col("vec_id") < 5)
    # layout adversary: one partition, sorted by id — a head prefix
    # would sample exactly ids [0, cap)
    out = similarity.ivf_topk(
        emb.coalesce(1).sortWithinPartitions("vec_id"), queries, k=3,
        fit_sample_cap=cap,
    )
    rows = out.collect()
    assert fit_sizes == [cap], f"fit saw {fit_sizes}, cap was {cap} (n={n})"
    assert "xxhash64" in fit_plans[0] and "Sort" in fit_plans[0], (
        "sampled fit input must be a hash-spread sort, not a head prefix:\n"
        + fit_plans[0]
    )
    assert rows and all(r["rank"] <= 3 for r in rows)
    # every query that has candidates in the probed cells reports them
    assert {r["query_id"] for r in rows} <= {0, 1, 2, 3, 4}


def test_subword_token_count(spark):
    df = spark.createDataFrame(
        [(1, "don't stop-me now2day"), (2, ""), (3, "abc 123 !?")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["subword_count"]
           for r in df.select("doc_id", text.subword_token_count("text")).collect()}
    # don / ' / t / stop / - / me / now / 2 / day = 9
    assert got == {1: 9, 2: 0, 3: 4}


def test_connected_components_synthetic(spark):
    """Min-label propagation matches the known components of a small
    graph: {1,2,3,8,9} (bridged via 9-1) and {5,6}; 7 is absent
    because singleton nodes never appear in a pair list."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 1)], "id_a long, id_b long"
    )
    got = {
        (r["node"], r["component"])
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (9, 1), (8, 1), (5, 5), (6, 5)}


def test_connected_components_chain_converges(spark):
    """A 12-node path graph (worst-case diameter) still converges to a
    single component."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    rows = dedup.connected_components(pairs).collect()
    assert {r["component"] for r in rows} == {0}
    assert len(rows) == 13


def test_connected_components_raises_on_exhaustion(spark):
    """Diameter > max_iter must raise, not return partial labels
    (VERDICT r1 #7)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=3)


def test_star_matches_propagation_on_random_graph(spark):
    """Large-star/small-star labels == min-label propagation labels on
    a seeded random graph (many components, varied shapes)."""
    rng = random.Random(7)
    pairs = spark.createDataFrame(
        [(rng.randrange(120), rng.randrange(120)) for _ in range(150)],
        "id_a long, id_b long",
    ).filter("id_a <> id_b")
    prop = {
        (r["node"], r["component"])
        for r in dedup.connected_components(pairs, max_iter=50).collect()
    }
    star = {
        (r["node"], r["component"])
        for r in dedup.connected_components_star(pairs).collect()
    }
    assert star == prop


def test_star_chain_converges_in_log_rounds(spark):
    """A 256-node chain (diameter 255) must finish within ~2·log2(256)
    alternating rounds — the O(log n) contract propagation can't meet
    (it would need 255 iterations)."""
    n = 256
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    rows = dedup.connected_components_star(
        pairs, max_rounds=20, local_finish_edges=0
    ).collect()
    assert {r["component"] for r in rows} == {0}
    assert len(rows) == n


def test_star_hybrid_finish_matches_pure_star(spark):
    """The union-find finish — immediate (edge list under threshold)
    and mid-loop (threshold crossed after contraction rounds) — must
    label identically to pure star rounds."""
    n = 256
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    pure = {
        (r["node"], r["component"])
        for r in dedup.connected_components_star(
            pairs, local_finish_edges=0
        ).collect()
    }
    immediate = {
        (r["node"], r["component"])
        for r in dedup.connected_components_star(pairs).collect()
    }
    midloop = {
        (r["node"], r["component"])
        for r in dedup.connected_components_star(
            pairs, local_finish_edges=100
        ).collect()
    }
    assert immediate == pure
    assert midloop == pure


def test_star_shuffle_hash_gate_labels_identically(spark, monkeypatch):
    """The r8 join-strategy gate: above STAR_SHJ_EDGE_BOUND the round
    joins hint shuffle_hash (the un-hinted fallback at that size is
    sort-merge, which sorts both sides every round; the min tables
    have unique keys, the safe build case).  Forcing the gate ON with
    a zero bound must leave labels identical to the un-hinted
    rounds on graphs of different shapes — and the hinted join must
    actually plan as ShuffledHashJoin (checked on the round-join shape
    directly, since per-round plans are checkpoint-truncated from the
    returned DataFrame)."""
    bound = partitioning.STAR_SHJ_EDGE_BOUND
    monkeypatch.setattr(partitioning, "STAR_SHJ_EDGE_BOUND", 0)  # always hint
    rng = random.Random(11)
    for pairs in (
        spark.createDataFrame(
            [(i, i + 1) for i in range(127)], "id_a long, id_b long"
        ),
        spark.createDataFrame(
            [(rng.randrange(120), rng.randrange(120)) for _ in range(150)],
            "id_a long, id_b long",
        ).filter("id_a <> id_b"),
    ):
        hinted = {
            (r["node"], r["component"])
            for r in dedup.connected_components_star(
                pairs, local_finish_edges=0
            ).collect()
        }
        monkeypatch.setattr(partitioning, "STAR_SHJ_EDGE_BOUND", bound)
        # local_finish_edges=0 on the baseline too (ADVICE r8): without
        # it these <=150-edge graphs short-circuit to the union-find
        # local finish and never execute the UN-hinted star rounds —
        # the comparison would be hinted-rounds vs union-find, not
        # hinted vs un-hinted rounds as this test claims.
        plain = {
            (r["node"], r["component"])
            for r in dedup.connected_components_star(
                pairs, local_finish_edges=0
            ).collect()
        }
        monkeypatch.setattr(partitioning, "STAR_SHJ_EDGE_BOUND", 0)
        assert hinted == plain
    # plan shape of the hinted round-join composition
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 3)], "lo long, hi long"
    )
    low_min = e.groupBy("hi").agg(F.min("lo").alias("__m"))
    plan = (
        e.join(low_min.hint("shuffle_hash"), "hi")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ShuffledHashJoin" in plan, plan[:800]


def test_star_raises_on_round_exhaustion(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="fixpoint"):
        dedup.connected_components_star(
            pairs, max_rounds=1, local_finish_edges=0
        )


def test_resize_images_geometry_and_determinism(spark):
    from nyc_taxi_data_clickhouse_spark.operators.multimodal import (
        RESIZE_SCHEMA,
        resize_images,
    )

    rows = [
        (1, bytearray(b"imgpayload-a"), 1024, 768),
        (2, bytearray(b"imgpayload-b"), 100, 50),   # already small: no upscale
        (3, bytearray(b"imgpayload-c"), 512, 2048),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, b binary, w int, h int"
    ).select(
        "media_id",
        F.struct(
            F.col("b").alias("bytes"),
            F.lit("image/jpeg").alias("mime"),
            F.col("w").alias("width"),
            F.col("h").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("media"),
    )
    out = resize_images(df, max_side=256)
    assert out.schema == RESIZE_SCHEMA
    got = {r["media_id"]: (r["out_width"], r["out_height"]) for r in out.collect()}
    assert got[1] == (256, 192)       # 1024x768 -> scale 0.25
    assert got[2] == (100, 50)        # no upscale
    assert got[3] == (64, 256)        # portrait: height is the long side
    # determinism: same payload+geometry -> same digest
    again = {r["media_id"]: bytes(r["resized"]) for r in resize_images(df).collect()}
    first = {r["media_id"]: bytes(r["resized"]) for r in out.collect()}
    assert again == first


def test_resample_audio_sample_count(spark):
    from nyc_taxi_data_clickhouse_spark.operators.multimodal import resample_audio

    df = spark.createDataFrame(
        [(1, bytearray(b"pcm"), 2500)], "media_id long, b binary, dur long"
    ).select(
        "media_id",
        F.struct(
            F.col("b").alias("bytes"),
            F.lit("audio/wav").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.col("dur").alias("duration_ms"),
        ).alias("media"),
    )
    r = resample_audio(df, target_hz=16_000).first()
    assert r["n_samples"] == 40_000  # 2.5s * 16kHz (metadata path: not a WAV)
    assert r["pcm"] is not None

def test_avi_codec_roundtrip_exact():
    """MJPEG-AVI container + per-frame baseline JPEG round-trip exactly
    on the quantization lattice used by synthesize_media('video')."""
    from nyc_taxi_data_clickhouse_spark.operators.multimodal import (
        _build_avi_codec,
        _build_jpeg_codec,
    )

    enc_avi, parse_avi = _build_avi_codec()
    enc_jpg, parse_jpg = _build_jpeg_codec()

    def frame(i, f):
        luma = {
            (by, bx): [(2 * ((i + 5 * f + by * 2 + bx) % 128) - 128) // 2]
            + [0] * 63
            for by in range(2)
            for bx in range(2)
        }
        return enc_jpg(16, 16, [luma], [(1, 1)])

    for i in (0, 1, 7, 123):
        n = 2 + i % 4
        avi = enc_avi(16, 16, 200_000, [frame(i, f) for f in range(n)])
        v = parse_avi(avi)
        assert (v["width"], v["height"], v["usec_per_frame"], v["n_frames"]) == (
            16, 16, 200_000, n,
        )
        for f in range(n):
            w, h, c, px = parse_jpg(v["frames"][f])
            assert (w, h, c) == (16, 16, 1)
            assert sum(px) == 64 * sum(2 * ((i + 5 * f + b) % 128) for b in range(4))

    # malformed containers are rejected, not mis-parsed
    import pytest as _pytest
    with _pytest.raises(ValueError):
        parse_avi(b"RIFFxxxxWAVE")
    with _pytest.raises(ValueError):
        parse_avi(avi[:40])  # truncated before movi -> frame-count mismatch


def test_decode_video_frames_exact(spark):
    """Sampled-frame decode matches the closed-form pixel arithmetic and
    the ceil(duration/every_ms) grid size."""
    from nyc_taxi_data_clickhouse_spark.operators.multimodal import (
        decode_video_frames,
        pack_media,
        synthesize_media,
    )

    ids = spark.range(24).select(F.col("id").alias("media_id"))
    media = pack_media(synthesize_media(ids, "video"), "payload", "video/x-msvideo")
    rows = decode_video_frames(media, every_ms=300).collect()

    expected_n = sum(-(-((2 + i % 4) * 200) // 300) for i in range(24))
    assert len(rows) == expected_n
    for r in rows:
        i, f = r["media_id"], r["frame_index"]
        assert f == r["frame_ts_ms"] // 200
        assert (r["width"], r["height"]) == (16, 16)
        assert r["pixel_sum"] == 64 * sum(2 * ((i + 5 * f + b) % 128) for b in range(4))


def test_line_dedup_corpus_planted(spark, tmp_path):
    """C4-style span dedup: a doc repeating an earlier doc's spans loses
    them; the first occurrence keeps them; within-doc repeats also
    collapse to the first."""
    import shutil
    from pathlib import Path

    sf = tmp_path / "sf"
    sf.mkdir()
    # span width is 8 tokens; craft docs from 8-token spans
    s1 = "a b c d e f g h"
    s2 = "i j k l m n o p"
    s3 = "q r s t u v w x"
    rows = [
        (0, f"{s1} {s2}"),          # original: keeps both
        (1, f"{s2} {s3}"),          # s2 seen in doc 0 -> only s3 kept
        (2, f"{s3} {s3}"),          # s3 seen in doc 1; self-repeat too
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(sf / "documents.parquet")
    )
    from nyc_taxi_data_clickhouse_spark.operators.corpus_ops import (
        line_dedup_corpus,
    )

    out = {r["doc_id"]: r for r in line_dedup_corpus(spark, str(sf)).collect()}
    assert (out[0]["n_lines"], out[0]["n_kept"]) == (2, 2)
    assert out[0]["dedup_text"] == f"{s1} {s2}"
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (2, 1)
    assert out[1]["dedup_text"] == s3
    assert (out[2]["n_lines"], out[2]["n_kept"]) == (2, 0)
    assert out[2]["dedup_text"] == ""
