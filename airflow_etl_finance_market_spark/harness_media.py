"""Multimodal gate tier: real codec roundtrips, perceptual-hash /
tile / row-CDC image dedup, video overlap, and cross-modal corpus
prep.

One slice of the registry. ``harness.py`` imports the tier
modules in sequence; that registration order only breaks ties in
the driver-window order ``harness.py`` derives from the
CORRECTNESS ledger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .harness import (  # noqa: F401  (shared gate surface)
    fan_out,
    load_fixture,
    register,
)


# ---------------------------------------------------------------------------
# Round 7: REAL image/video codec driver gates + image perceptual-hash dedup
# ---------------------------------------------------------------------------


@register(
    "multimodal_image_codec_real",
    """
SELECT COUNT(*) * 4 AS n_images,
       true AS dims_exact,
       true AS mime_ok,
       true AS pixels_ok
FROM documents
""",
)
def q_multimodal_image_codec_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-codec HARD GATE (r06 verdict #2): per document, deterministic doc-byte-derived pixels
    are encoded to real PNG (RGB), baseline JPEG (grayscale, 8x8-block
    content), GIF (grayscale palette), and WebP (VP8L lossless RGB)
    payloads, then pushed through the REAL frame path
    (extract_binary_features(use_fake_codec=False) — the stdlib codec
    tier). The oracle PREDICTS n_images = 4 x n_docs from first
    principles and pins three booleans: every decoded dimension matches
    the octet_length-derived prediction computed independently in the
    build closure (a quarantined row coalesces to false — it can't
    hide), every mime sniffs as its format, and every payload
    PIXEL-round-trips (PNG/GIF/WebP bit-exact; JPEG dims exact + mean
    abs error <= 4 on flat blocks). A regression anywhere in the four
    decoders, the PNG/GIF/WebP encoders, or the quarantine plumbing flips the
    hash red in CORRECTNESS_r{N}.json. Both stages are map-only Arrow
    passes — zero data movement at any scale."""
    from .multimodal.binary import _stdlib_png_codec, extract_binary_features
    from .multimodal.gif import _stdlib_gif_codec
    from .multimodal.jpeg import _stdlib_jpeg_codec
    from .multimodal.webp import _stdlib_webp_codec

    _, _png_dec, _png_enc, _ = _stdlib_png_codec()
    _, _jpeg_dec, _jpeg_enc = _stdlib_jpeg_codec()
    _, _gif_dec, _gif_enc = _stdlib_gif_codec()
    _, _webp_dec, _webp_enc = _stdlib_webp_codec()

    def _build(batches):
        import pandas as pd

        gray_pal = [(i, i, i) for i in range(256)]

        def variants(doc_id, text):
            data = text.encode("utf-8") or b"x"
            n = len(data)
            # PNG: RGB, arbitrary dims derived from byte length
            w = n % 24 + 8
            h = (n * 3) % 24 + 8
            rgb = bytes(data[i % n] for i in range(w * h * 3))
            png = _png_enc(w, h, 3, rgb)
            png_ok = _png_dec(png) == (w, h, 3, rgb)
            yield doc_id * 10, "png", png, w, h, bool(png_ok)
            # JPEG: grayscale, flat 8x8 blocks (block-exactness regime)
            bw, bh = n % 5 + 2, (n * 3) % 5 + 2
            jw, jh = 8 * bw, 8 * bh
            blocks = [data[i % n] for i in range(bw * bh)]
            gray = bytes(
                blocks[(y // 8) * bw + (x // 8)]
                for y in range(jh)
                for x in range(jw)
            )
            jpg = _jpeg_enc(jw, jh, 1, gray, quality=90)
            try:
                dw, dh, dch, dpix = _jpeg_dec(jpg)
                mae = sum(
                    abs(a - b) for a, b in zip(dpix, gray)
                ) / len(gray)
                jpg_ok = (dw, dh, dch) == (jw, jh, 1) and mae <= 4.0
            except Exception:
                jpg_ok = False
            yield doc_id * 10 + 1, "jpeg", jpg, jw, jh, bool(jpg_ok)
            # GIF: grayscale palette (palette-lossless round trip)
            idx = bytes(data[i % n] for i in range(w * h))
            gif = _gif_enc(w, h, idx, gray_pal)
            expect = b"".join(bytes((v, v, v)) for v in idx)
            gif_ok = _gif_dec(gif) == (w, h, 3, expect)
            yield doc_id * 10 + 2, "gif", gif, w, h, bool(gif_ok)
            # WebP: VP8L lossless RGB, third independent dims recipe
            ww = n % 20 + 4
            wh = (n * 5) % 20 + 4
            wrgb = bytes(data[(i * 3 + 1) % n] for i in range(ww * wh * 3))
            webp = _webp_enc(ww, wh, 3, wrgb)
            webp_ok = _webp_dec(webp) == (ww, wh, 3, wrgb)
            yield doc_id * 10 + 3, "webp", webp, ww, wh, bool(webp_ok)

        for pdf in batches:
            rows = [
                v
                for doc_id, text in zip(pdf["doc_id"], pdf["text"])
                for v in variants(doc_id, text)
            ]
            yield pd.DataFrame(
                {
                    "img_id": pd.Series(
                        [r[0] for r in rows], dtype="int64"
                    ),
                    "fmt": [r[1] for r in rows],
                    "payload": pd.Series(
                        [r[2] for r in rows], dtype="object"
                    ),
                    "pred_w": pd.Series(
                        [r[3] for r in rows], dtype="int32"
                    ),
                    "pred_h": pd.Series(
                        [r[4] for r in rows], dtype="int32"
                    ),
                    "pix_ok": pd.Series(
                        [r[5] for r in rows], dtype="bool"
                    ),
                }
            )

    docs = fan_out(load_fixture(spark, sf_dir, "documents"), "doc_id")
    media = docs.select("doc_id", "text").mapInPandas(
        _build,
        "img_id long, fmt string, payload binary, "
        "pred_w int, pred_h int, pix_ok boolean",
    )
    # derived frame feeds TWO consumers (real decode + prediction join):
    # checkpoint so the per-document encodes run once (house rule for
    # derived-frame reuse)
    media = media.localCheckpoint(eager=False)
    feats = extract_binary_features(
        media.select(F.col("img_id").alias("doc_id"), "payload"),
        use_fake_codec=False,
    )
    joined = feats.join(
        media.select("img_id", "fmt", "pred_w", "pred_h", "pix_ok"),
        feats["doc_id"] == F.col("img_id"),
    )
    row = joined.agg(
        F.count(F.lit(1)).alias("n_images"),
        F.min(
            F.coalesce(
                (F.col("width") == F.col("pred_w"))
                & (F.col("height") == F.col("pred_h")),
                F.lit(False),
            )
        ).alias("dims_exact"),
        F.min(
            F.coalesce(
                F.col("mime") == F.concat(F.lit("image/"), F.col("fmt")),
                F.lit(False),
            )
        ).alias("mime_ok"),
        F.min("pix_ok").alias("pixels_ok"),
    ).first()
    return spark.createDataFrame(
        [tuple(row)],
        "n_images long, dims_exact boolean, "
        "mime_ok boolean, pixels_ok boolean",
    )


@register(
    "multimodal_video_frames_real",
    """
SELECT doc_id,
       CAST((greatest(octet_length(encode(text)), 1) % 7 + 3) // 2 AS BIGINT)
           AS n_sampled,
       true AS shas_exact
FROM documents
""",
)
def q_multimodal_video_frames_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-frame-sampling HARD GATE (r06 verdict #2): per
    document, octet_length(text) % 7 + 2 real baseline-JPEG frames are
    packed into a real MJPEG-in-AVI container, and
    sample_frames(use_fake_codec=False) walks the RIFF/movi structure,
    emitting every 2nd frame. The oracle PREDICTS the per-document
    sampled-frame count ceil(n_frames / 2) from the same byte-length
    arithmetic — a PER-ROW prediction, stronger than a summary boolean —
    and ``shas_exact`` pins BYTE-EXACT extraction: the sha16 multiset of
    the walker's output must equal the sha16s of the exact JPEG payloads
    the builder packed at the sampled indices (computed independently in
    the build closure). A mis-parsed chunk boundary, off-by-one stride,
    or padding-byte leak flips the hash red. Builder and walker are both
    map-only Arrow passes; the verify side is one groupBy on doc_id."""
    from .multimodal.binary import sample_frames
    from .multimodal.jpeg import _stdlib_jpeg_codec
    from .multimodal.video import _stdlib_avi_codec

    _, _, _jpeg_enc = _stdlib_jpeg_codec()
    _, _, _avi_enc = _stdlib_avi_codec()

    def _build(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            ids, payloads, exp = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                data = text.encode("utf-8") or b"x"
                n_frames = len(data) % 7 + 2
                frames = [
                    _jpeg_enc(
                        16, 16, 1,
                        bytes([data[j % len(data)]]) * 256,
                        quality=90,
                    )
                    for j in range(n_frames)
                ]
                ids.append(doc_id)
                payloads.append(_avi_enc(frames, fps=10, width=16, height=16))
                exp.append(
                    [
                        hashlib.sha256(frames[j]).hexdigest()[:16]
                        for j in range(0, n_frames, 2)
                    ]
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "payload": pd.Series(payloads, dtype="object"),
                    "exp_shas": pd.Series(exp, dtype="object"),
                }
            )

    docs = fan_out(load_fixture(spark, sf_dir, "documents"), "doc_id")
    media = docs.select("doc_id", "text").mapInPandas(
        _build, "doc_id long, payload binary, exp_shas array<string>"
    )
    # two consumers (frame walk + expected-sha join): encode once
    media = media.localCheckpoint(eager=False)
    sampled = sample_frames(
        media.select("doc_id", "payload"),
        every_n=2,
        use_fake_codec=False,
    )
    got = sampled.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sort_array(F.collect_list("frame_sha16")).alias("got_shas"),
    )
    return (
        got.join(media.select("doc_id", "exp_shas"), "doc_id")
        .select(
            "doc_id",
            "n_sampled",
            (
                F.col("got_shas") == F.array_sort(F.col("exp_shas"))
            ).alias("shas_exact"),
        )
    )


@register(
    "video_near_dups",
    """
SELECT COUNT(*) * 2 AS n_videos,
       COUNT(*) AS n_pairs,
       true AS pairs_within_family,
       true AS full_overlap
FROM documents
WHERE doc_id % 11 = 5
""",
)
def q_video_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO-level near-dup via frame-hash set overlap
    (multimodal/phash.py video_frame_dhash ∘ video_near_dup_pairs):
    every 11th document seeds a 2-member planted video family — 5
    MJPEG/AVI frames of 72x64 block-grid pixels (the dHash gate's
    >=32-luma-margin construction, seed varying per frame), video B
    re-encoding the SAME frames with sub-margin +-4 luma noise (byte-
    different, gradient-sign-identical, so each frame pair hashes
    EQUAL). The walk+decode+dHash all happen in one map-only Arrow
    stage (8 bytes out per frame, raw frames never shuffled); pairs
    come from the pigeonhole block equi-join keyed on video ids, and
    the match FRACTION threshold absorbs any single-frame collision —
    a cross-family frame match contributes at most 1/5 < 0.8. The
    oracle PREDICTS the outcome: 2n videos hashed, the near-dup pair
    set is exactly the n planted (A, B) pairs, every pair within
    family at full overlap (match_frac == 1)."""
    from .multimodal.phash import video_frame_dhash, video_near_dup_pairs

    _LEVELS = [16, 48, 80, 112, 144, 176, 208, 240]

    def _build(batches):
        import hashlib

        import pandas as pd

        gw, gh, blk = 9, 8, 8

        def base_pixels(seed: bytes) -> bytearray:
            vals = []
            for r in range(gh):
                row = []
                for c in range(gw):
                    hv = hashlib.md5(seed + bytes([r, c])).digest()[0]
                    v = _LEVELS[hv % 8]
                    if c > 0 and v == row[-1]:
                        v = _LEVELS[(hv % 8 + 1) % 8]
                    row.append(v)
                vals.append(row)
            pix = bytearray()
            for r in range(gh):
                rowbytes = bytearray()
                for c in range(gw):
                    rowbytes += bytes([vals[r][c]]) * blk
                pix += bytes(rowbytes) * blk
            return pix

        for pdf in batches:
            ids, payloads = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                seed = hashlib.md5(text.encode("utf-8")).digest()
                frames_a, frames_b = [], []
                for fi in range(5):
                    pix = base_pixels(seed + bytes([fi]))
                    frames_a.append(
                        _jpeg_enc(gw * blk, gh * blk, 1, bytes(pix), quality=90)
                    )
                    noisy = bytearray(pix)
                    for t in range(4):
                        p = hashlib.md5(seed + bytes([fi, 128 + t])).digest()
                        pos = (p[0] % (gh * blk)) * gw * blk + p[1] % (gw * blk)
                        noisy[pos] = max(
                            0, min(255, noisy[pos] + (p[2] % 9) - 4)
                        )
                    frames_b.append(
                        _jpeg_enc(
                            gw * blk, gh * blk, 1, bytes(noisy), quality=90
                        )
                    )
                ids.append(doc_id * 10)
                payloads.append(_avi_enc(frames_a, fps=10, width=72, height=64))
                ids.append(doc_id * 10 + 1)
                payloads.append(_avi_enc(frames_b, fps=10, width=72, height=64))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "payload": pd.Series(payloads, dtype="object"),
                }
            )

    from .multimodal.jpeg import _stdlib_jpeg_codec
    from .multimodal.video import _stdlib_avi_codec

    _, _, _jpeg_enc = _stdlib_jpeg_codec()
    _, _, _avi_enc = _stdlib_avi_codec()

    docs = fan_out(
        load_fixture(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 11 == 5
        ),
        "doc_id",
    )
    n_docs = docs.count()
    media = docs.select("doc_id", "text").mapInPandas(
        _build, "doc_id long, payload binary"
    )
    # the signature frame feeds the count AND the pair self-join: eager
    # checkpoint so encode+walk+decode+hash runs exactly once
    sigs = video_frame_dhash(media).localCheckpoint()
    n_videos = sigs.select("video_id").distinct().count()
    pairs = video_near_dup_pairs(sigs, max_hamming=4, min_match_frac=0.8)
    row = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min(
            (F.col("video_a") / 10).cast("long")
            == (F.col("video_b") / 10).cast("long")
        ).alias("within"),
        F.min(F.col("match_frac") == 1.0).alias("full"),
    ).first()
    return spark.createDataFrame(
        [
            (
                n_videos,
                row["n_pairs"],
                bool(row["within"]) if row["within"] is not None else False,
                bool(row["full"]) if row["full"] is not None else False,
            )
        ],
        "n_videos long, n_pairs long, pairs_within_family boolean, "
        "full_overlap boolean",
    )


def _family_media_builder(members):
    """``mapInPandas`` closure for the planted 3-member media families:
    ``(doc_id, text)`` -> ``(doc_id*10 + k, payload)`` for each family
    member ``k``. ``members`` is a fixtures.py factory PRODUCT, so the
    closure ships self-contained to bare workers (the pickle house
    rule)."""

    def _build(batches):
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                for k, payload in enumerate(members(text)):
                    ids.append(doc_id * 10 + k)
                    payloads.append(payload)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "payload": pd.Series(payloads, dtype="object"),
                }
            )

    return _build


def _family_pair_outcome(fps, *, sig_col, n_docs, max_hamming=4):
    """Shared verdict aggregate for every planted 3-member-family media
    gate: run the block-LSH pair stage over the (already checkpointed)
    signature frame and reduce to the 4-tuple the oracles predict —
    ``(n_items, n_pairs, pairs_within_family, families_fully_paired)``
    with family = id div 10. Hoisted r11 from four near-identical gate
    bodies when the dHash/DCT and raw/normalized-audio gate pairs were
    merged (registry-headroom work, r10 verdict #1)."""
    from .multimodal.phash import hamming_near_pairs

    n_items = fps.count()
    fam = hamming_near_pairs(
        fps, sig_col=sig_col, max_hamming=max_hamming
    ).select(
        (F.col("id_a") / 10).cast("long").alias("fam_a"),
        (F.col("id_b") / 10).cast("long").alias("fam_b"),
    )
    per_fam = fam.groupBy("fam_a").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(F.col("fam_a") == F.col("fam_b")).alias("within"),
    )
    row = per_fam.agg(
        F.sum("cnt").alias("n_pairs"),
        F.min("within").alias("within"),
        (
            F.min((F.col("cnt") == 3) & F.col("within"))
            & (F.count(F.lit(1)) == F.lit(n_docs))
        ).alias("fully"),
    ).first()
    return n_items, row["n_pairs"], row["within"], row["fully"]


@register(
    "image_phash_multi_near_dups",
    """
SELECT 'dct' AS variant,
       COUNT(*) * 3 AS n_images,
       COUNT(*) * 3 AS n_pairs,
       true AS pairs_within_family,
       true AS families_fully_paired
FROM documents
WHERE doc_id % 7 = 3
UNION ALL
SELECT 'dhash' AS variant,
       COUNT(*) * 3 AS n_images,
       COUNT(*) * 3 AS n_pairs,
       true AS pairs_within_family,
       true AS families_fully_paired
FROM documents
WHERE doc_id % 5 = 0
""",
)
def q_image_phash_multi_near_dups(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IMAGE near-dup through BOTH perceptual-hash kernels in ONE gate
    — the r10 verdict's registry-headroom merge of
    ``image_phash_near_dups`` (r06) + ``image_phash_dct_near_dups``
    (r07); every assertion of both retired gates survives as one
    variant row here, and both kernels still ride the SAME
    hamming_near_pairs block-LSH.

    Variant 'dhash' (multimodal/phash.py image_dhash — decode -> luma
    -> 9x8 gradient-sign hash): every 5th document seeds a 3-member
    family (72x64 block-grid PNG / baseline JPEG q90 / GIF of the 2x
    nearest upscale; fixtures.dhash_family_members) — byte-different,
    pixel-similar, with adjacent blocks >= 32 luma apart so every
    gradient sign survives codec noise.

    Variant 'dct' (image_phash_dct — luma -> 32x32 area-average ->
    orthonormal 2-D DCT -> 63 median-sign bits): every 7th document
    seeds a family EXACT BY ARITHMETIC (gray PNG / GIF palette
    re-encode of identical pixels / PNG of the 2x nearest upscale,
    which area-averages back to the same raster;
    fixtures.dct_family_members).

    The oracle PREDICTS both outcomes from first principles: 3n images
    hash per variant (a quarantine shrinks the count), the verified
    pair set is exactly the 3 within-family pairs per family, none
    cross-family. Hash stages are map-only Arrow; the pair stage is
    the 64k-bucket block equi-join + bit_count verify — never
    all-pairs. JPEG robustness of the DCT kernel (not provable, only
    measurable) stays pinned empirically in tests/test_phash.py."""
    from .fixtures import dct_family_members, dhash_family_members
    from .multimodal.phash import image_dhash, image_phash_dct

    rows = []
    for variant, mod, rem, members, hash_fn, sig_col in (
        ("dhash", 5, 0, dhash_family_members(), image_dhash, "dhash"),
        ("dct", 7, 3, dct_family_members(), image_phash_dct, "phash"),
    ):
        docs = fan_out(
            load_fixture(spark, sf_dir, "documents").filter(
                F.col("doc_id") % mod == rem
            ),
            "doc_id",
        )
        n_docs = docs.count()
        media = docs.select("doc_id", "text").mapInPandas(
            _family_media_builder(members), "doc_id long, payload binary"
        )
        # the hash frame feeds the count AND the LSH self-join: eager
        # checkpoint so the pure-Python decode + hash runs exactly once
        fps = hash_fn(media).localCheckpoint()
        rows.append(
            (variant,)
            + _family_pair_outcome(
                fps, sig_col=sig_col, n_docs=n_docs, max_hamming=4
            )
        )
    return spark.createDataFrame(
        rows,
        "variant string, n_images long, n_pairs long, "
        "pairs_within_family boolean, families_fully_paired boolean",
    )


@register(
    "image_tile_multi_crop_near_dups",
    """
SELECT 'aligned' AS variant,
       COUNT(*) * 3 AS n_images,
       COUNT(*) * 3 AS n_pairs,
       true AS pairs_within_family,
       true AS families_fully_paired
FROM documents
WHERE doc_id % 13 = 6
UNION ALL
SELECT 'phase' AS variant,
       COUNT(*) * 3 AS n_images,
       COUNT(*) * 3 AS n_pairs,
       true AS pairs_within_family,
       true AS families_fully_paired
FROM documents
WHERE doc_id % 15 = 8
""",
)
def q_image_tile_multi_crop_near_dups(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CROP-tolerant image near-dup through BOTH tile-grid
    configurations in ONE gate — the r12 registry-headroom merge of
    ``image_tile_crop_near_dups`` (r08) + ``image_tile_phase_crop_
    near_dups`` (r09): every assertion of both retired gates survives
    as one variant row; same kernel (image_tile_dhash), same pair
    machinery (image_tile_near_dup_pairs), differing ONLY in
    phase_offsets and the planted crop offset. RETIREMENT RATIONALE:
    the pair always moved together (one tile kernel feeds both), the
    merge pins single-phase AND two-phase recovery under one hash per
    round, and it funds the r12 growth per the
    pair-growth-with-retirements rule; the arbitrary-offset case both
    tiers degrade on is now covered by the row-CDC gate
    (image_cdc_crop_near_dups), completing the crop lattice:
    aligned / half-phase / ANY offset.

    Variant 'aligned': every 13th document seeds the TILE-ALIGNED
    3-member family (fixtures.tile_crop_family_members — 96x96 crop at
    (32, 32); surviving tiles byte-identical BY ARITHMETIC), single
    (0, 0) phase.

    Variant 'phase': every 15th document seeds the HALF-tile family
    (crop at (16, 16) — off the base grid, exactly on the tile/2
    phase), hashed on TWO interleaved grids (phase_offsets=((0, 0),
    (16, 16))): the crop's phase-0 tiles are byte-identical to the
    original's phase-16 tiles and vice versa — exactly 2x hash cost,
    pair machinery unchanged.

    The oracle PREDICTS both outcomes: 3n images per variant, exactly
    3 within-family pairs per family, none cross-family. Off-BOTH-
    phases crops remain pinned as this tier's honest degradation in
    tests/test_phash.py — and recovered by the row-CDC tier."""
    from .fixtures import tile_crop_family_members
    from .multimodal.phash import (
        image_tile_dhash,
        image_tile_near_dup_pairs,
    )

    rows = []
    for variant, mod, rem, members, phases in (
        ("aligned", 13, 6, tile_crop_family_members(), ((0, 0),)),
        ("phase", 15, 8, tile_crop_family_members(16, 16),
         ((0, 0), (16, 16))),
    ):
        docs = fan_out(
            load_fixture(spark, sf_dir, "documents").filter(
                F.col("doc_id") % mod == rem
            ),
            "doc_id",
        )
        n_docs = docs.count()
        media = docs.select("doc_id", "text").mapInPandas(
            _family_media_builder(members), "doc_id long, payload binary"
        )
        # the tile frame feeds the count AND the overlap self-join:
        # eager checkpoint so decode + 16-25 dHashes per image run once
        sigs = image_tile_dhash(
            media, phase_offsets=phases
        ).localCheckpoint()
        n_images = sigs.select("doc_id").distinct().count()
        fam = image_tile_near_dup_pairs(
            sigs, max_hamming=4, min_match_frac=0.8
        ).select(
            (F.col("id_a") / 10).cast("long").alias("fam_a"),
            (F.col("id_b") / 10).cast("long").alias("fam_b"),
        )
        per_fam = fam.groupBy("fam_a").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(F.col("fam_a") == F.col("fam_b")).alias("within"),
        )
        row = per_fam.agg(
            F.sum("cnt").alias("n_pairs"),
            F.min("within").alias("within"),
            (
                F.min((F.col("cnt") == 3) & F.col("within"))
                & (F.count(F.lit(1)) == F.lit(n_docs))
            ).alias("fully"),
        ).first()
        rows.append(
            (variant, n_images, row["n_pairs"], row["within"],
             row["fully"])
        )
    return spark.createDataFrame(
        rows,
        "variant string, n_images long, n_pairs long, "
        "pairs_within_family boolean, families_fully_paired boolean",
    )


def q_multimodal_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[RETIRED r13 into multimodal_corpus_prep_multi — now that gate's
    'image_only' variant builder; the funnel is unchanged.]

    CROSS-MODAL corpus-prep funnel: image-dedup survivorship gates
    DOCUMENT selection — the vision-LM twin of corpus_prep_pipeline
    (there the dedup key was a text fingerprint; here it is the image
    dHash, so documents whose attached images are byte-different
    re-encodes of the same pixels collapse to one survivor). Every 8th
    document carries one image; documents in the same 32-id block share
    PIXELS (seed = the block id) but each of the block's 4 members
    ((doc_id // 8) % 4) publishes a different byte encoding — gray PNG,
    gray-palette GIF, REVERSED-palette GIF (indices inverted, palette
    inverted — same decoded values, different bytes), and RGB PNG with
    R=G=B — all decoding to the IDENTICAL luma plane, hence
    dHash-identical by arithmetic. (A 2x upscale variant would NOT be:
    the 9-wide dHash grid does not divide 64, so upscaled pixel pairs
    straddle grid columns — unlike the 32-grid DCT hash where integer
    upscales are exact.) The funnel: map-only hash stage → exact-signature min-id
    survivor (one hash-agg) → broadcast semi-join back to documents →
    per-lang data card. The oracle re-derives survivorship PURELY from
    id arithmetic (min doc_id per 32-block), so a hash drift, a missed
    re-encode, or an over-dedup all break the per-lang counts. Scale
    shape: pixels never shuffle (8 B/image out of the Arrow stage);
    the survivor agg shuffles 8-byte hashes; the semi-join broadcasts
    ≤ one row per image."""
    from .fixtures import image_encoding_variants
    from .multimodal.phash import image_dhash

    _variant = image_encoding_variants()

    def _build(batches):
        import hashlib

        import pandas as pd

        def noise32(seed: bytes) -> bytes:
            out = bytearray()
            i = 0
            while len(out) < 32 * 32:
                out += hashlib.md5(seed + bytes([i])).digest()
                i += 1
            return bytes(out[: 32 * 32])

        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                block = int(doc_id) // 32
                pix = noise32(hashlib.md5(str(block).encode()).digest())
                ids.append(doc_id)
                payloads.append(_variant(pix, (int(doc_id) // 8) % 4))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "payload": pd.Series(payloads, dtype="object"),
                }
            )

    docs = fan_out(
        load_fixture(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 8 == 3
        ),
        "doc_id",
    ).select("doc_id", "lang")
    media = docs.select("doc_id").mapInPandas(
        _build, "doc_id long, payload binary"
    )
    sigs = image_dhash(media)
    survivors = sigs.groupBy("dhash").agg(
        F.min("doc_id").alias("doc_id")
    )
    return (
        docs.join(F.broadcast(survivors.select("doc_id")), "doc_id", "semi")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_multimodal_corpus_prep_full(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[RETIRED r13 into multimodal_corpus_prep_multi — now that gate's
    'full' variant builder; the funnel is unchanged.]

    The FULL multimodal-LM prep funnel (r09 verdict #7): a document
    is selected only if it survives dedup in BOTH media modalities
    — image dHash AND video frame-set — each
    grouping content at a DIFFERENT granularity so every modality has
    independent teeth. Every 4th document carries one of each medium:

    - IMAGE: 32-id blocks share pixels; the 8 selected members cycle
      the four byte-different dHash-exact encodings (gray PNG / gray
      GIF / REVERSED-palette GIF / RGB PNG — fixtures.py
      image_encoding_variants). Survivor = min doc_id per dhash.
    - VIDEO: 8-id blocks share 5 deterministic MJPEG frames; the 2
      members carry 5 vs first-4 frames (byte-identical JPEGs —
      frame-set overlap 4/min(5,4) = 1). Survivors = videos never the
      LARGER id of a >= 0.8-overlap pair (anti-join on video_b).

    Because a block's min id is also the min of its nested sub-blocks,
    the intersection equals the 32-block survivors — but the TWO
    reported survivor counts break independently: a missed re-encode
    or dropped frame-set pair in EITHER modality inflates or
    deflates its count (over- AND under-dedup both visible). The
    oracle re-derives everything PURELY from id arithmetic. Scale
    shape: two map-only signature stages (pixels/frames never
    shuffle; 8 B per item out), one 8-byte hash-agg + one
    block-bounded pair join, two broadcast semi/anti-joins back to
    documents, survivor counts crossJoined as broadcast 1-row frames."""
    from .fixtures import (
        image_encoding_variants,
        mjpeg_video_variants,
    )
    from .multimodal.phash import (
        image_dhash,
        video_frame_dhash,
        video_near_dup_pairs,
    )

    _img = image_encoding_variants()
    _vid = mjpeg_video_variants()

    def _mk_builder(kind):
        img_v, vid_v = _img, _vid

        def _build(batches):
            import hashlib

            import pandas as pd

            def noise32(seed: bytes) -> bytes:
                out = bytearray()
                i = 0
                while len(out) < 32 * 32:
                    out += hashlib.md5(seed + bytes([i])).digest()
                    i += 1
                return bytes(out[: 32 * 32])

            for pdf in batches:
                ids, payloads = [], []
                for doc_id in pdf["doc_id"]:
                    d = int(doc_id)
                    k = d // 4
                    if kind == "image":
                        seed = hashlib.md5(
                            b"img%d" % (d // 32)
                        ).digest()
                        payload = img_v(noise32(seed), k % 4)
                    else:
                        seed = hashlib.md5(b"vid%d" % (d // 8)).digest()
                        payload = vid_v(seed, k % 2)
                    ids.append(doc_id)
                    payloads.append(payload)
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(ids, dtype="int64"),
                        "payload": pd.Series(payloads, dtype="object"),
                    }
                )

        return _build

    docs = fan_out(
        load_fixture(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 4 == 1
        ),
        "doc_id",
    ).select("doc_id", "lang")
    ids = docs.select("doc_id")

    img_surv = (
        image_dhash(ids.mapInPandas(
            _mk_builder("image"), "doc_id long, payload binary"
        ))
        .groupBy("dhash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # video: pair stage (frame hashes are per-frame, not one per video,
    # so survivorship goes through the overlap gate) — checkpoint the
    # 8-byte sig frame so the container walk + JPEG decodes run once
    # for the pair join's both sides
    vid_sigs = video_frame_dhash(
        ids.mapInPandas(
            _mk_builder("video"), "doc_id long, payload binary"
        )
    ).localCheckpoint()
    vid_pairs = video_near_dup_pairs(
        vid_sigs, min_match_frac=0.8
    )
    vid_surv = (
        vid_sigs.select(F.col("video_id").alias("doc_id"))
        .distinct()
        .join(
            F.broadcast(
                vid_pairs.select(F.col("video_b").alias("doc_id"))
            ),
            "doc_id",
            "anti",
        )
    )

    counts = [
        surv.agg(F.count(F.lit(1)).alias(name))
        for surv, name in (
            (img_surv, "n_img_survivors"),
            (vid_surv, "n_video_survivors"),
        )
    ]
    out = (
        docs.join(F.broadcast(img_surv), "doc_id", "semi")
        .join(F.broadcast(vid_surv), "doc_id", "semi")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    for c in counts:
        out = out.crossJoin(F.broadcast(c))
    return out.select(
        "lang",
        "n_docs",
        "n_img_survivors",
        "n_video_survivors",
    )


