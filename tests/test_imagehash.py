"""Perceptual image dedup: planted near-duplicate recall over REAL encoded
images through the from-spec decode tier, plus the numpy-tier invariants
(area-resize exactness, band layout, pHash brightness robustness) and the
pair phase's hot-band cap."""

from __future__ import annotations

import numpy as np
import pytest

from caffeonspark_spark.multimodal.imagehash import (
    dhash_bands,
    image_perceptual_hashes,
    near_dup_band_pairs,
    phash_bands,
    resize_area,
    to_gray,
)
from tests.jpeg_fixture import encode_baseline_jpeg


def _scene(seed: int, h: int = 64, w: int = 64) -> np.ndarray:
    """A smooth low-frequency 'photo' (oriented gradient + blobs):
    perceptual hashes are DESIGNED for natural images — uniform random
    noise has no structure to survive a resize, so fixtures must be
    smooth. The gradient orientation, frequency, and blob layout are all
    seed-dependent so DIFFERENT scenes hash far apart (shared structure
    between fixtures would under-test the false-pair side)."""
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    theta = rng.uniform(0, np.pi)
    axis = (yy * np.cos(theta) + xx * np.sin(theta)) / max(h, w)
    img = 128 + 100 * np.sin(axis * 2 * np.pi * rng.uniform(0.5, 2.5))
    for _ in range(6):
        cy, cx, r, amp = rng.uniform(0, h), rng.uniform(0, w), rng.uniform(6, 18), rng.uniform(-90, 90)
        img += amp * np.exp(-(((yy - cy) ** 2 + (xx - cx) ** 2) / (2 * r * r)))
    img = np.clip(img, 0, 255).astype(np.uint8)
    return np.stack([img, np.roll(img, 3, axis=1), 255 - img // 2], axis=2)


def _downscale(img: np.ndarray, factor: int = 2) -> np.ndarray:
    """Box-filtered downscale per channel (what a real thumbnailer does;
    raw ``[::2, ::2]`` subsampling aliases and is not a 'resized copy')."""
    h, w, c = img.shape
    return np.stack(
        [resize_area(img[:, :, k], h // factor, w // factor) for k in range(c)],
        axis=2,
    )


def _hamming(a, b) -> int:
    return sum(bin(x ^ y).count("1") for x, y in zip(a, b))


def test_resize_area_tiny_inputs_replicate():
    """Inputs smaller than the target: empty boxes widen to their nearest
    pixel (the degenerate-box limit of area averaging), so a 1×1 white
    icon upsizes to ALL-white — not black rows — and a tiny constant
    image stays constant at any target size."""
    one = np.full((1, 1), 255, np.uint8)
    np.testing.assert_array_equal(resize_area(one, 8, 9), np.full((8, 9), 255))
    tiny = np.array([[10, 200, 30], [40, 50, 60]], dtype=np.uint8)
    out = resize_area(tiny, 8, 9)
    assert out.shape == (8, 9)
    assert set(np.unique(out)) <= set(np.unique(tiny))  # pure replication
    const = np.full((2, 3), 77, np.uint8)
    assert (resize_area(const, 32, 32) == 77).all()


def test_resize_area_exact_block_means():
    """Evenly dividing dimensions: each output pixel is the exact block
    mean, so a k× pixel-replicated upscale round-trips bit-exactly —
    the property the native declared query's PGM render relies on."""
    rng = np.random.default_rng(3)
    mat = rng.integers(0, 256, (8, 9), dtype=np.uint8)
    big = np.repeat(np.repeat(mat, 4, axis=0), 4, axis=1)
    np.testing.assert_array_equal(resize_area(big, 8, 9), mat)
    # uneven ratio still covers the full grid (boxes partition the input)
    out = resize_area(big, 5, 7)
    assert out.shape == (5, 7)


def test_dhash_band_layout():
    """bit(i, j) lands at band i//2, position (i%2)*8 + j — one changed
    ROW perturbs exactly one band (the row-local edit containment the
    module docstring claims)."""
    g = np.arange(72, dtype=np.uint8).reshape(8, 9)  # ascending: all bits 1
    bands = dhash_bands(g)
    assert bands == (0xFFFF, 0xFFFF, 0xFFFF, 0xFFFF)
    g2 = g.copy()
    g2[5] = g2[5][::-1]  # reverse one row: its 8 bits flip to 0
    bands2 = dhash_bands(g2)
    assert bands2[0] == bands[0] and bands2[1] == bands[1] and bands2[3] == bands[3]
    assert bands2[2] == 0x00FF  # row 5 = odd row of band 2: high byte cleared


def test_portable_image_bands_rejects_non_identifier_names():
    """Band SQL is spliced from the seed names: anything but a plain
    column identifier is refused before it reaches the parser."""
    from caffeonspark_spark.multimodal.imagehash import portable_image_bands

    with pytest.raises(AssertionError):
        portable_image_bands([f"r{i}" for i in range(7)] + ["r7); drop"])


def test_phash_brightness_invariance():
    """A constant brightness offset shifts only the DC coefficient, which
    is excluded from the median — the pHash must not change."""
    g = to_gray(_scene(11))
    g32 = resize_area(g, 32, 32)
    lifted = np.clip(g32.astype(np.int64) + 30, 0, 255).astype(np.uint8)
    assert phash_bands(g32) == phash_bands(lifted)


def test_planted_near_duplicates_real_jpegs(spark):
    """The production pipeline over real JPEG bytes (from-spec decode
    tier): a resized copy and a re-encoded (coarser quantizer) copy of
    each scene must pair with their original at low Hamming distance,
    while distinct scenes stay apart — and the resized/re-encoded copies
    of the SAME scene transitively cluster."""
    scenes = [_scene(s) for s in (1, 2, 3)]
    rows = []
    for s, img in enumerate(scenes):
        half = _downscale(img)
        rows.append((s * 10 + 0, bytearray(encode_baseline_jpeg(img, quant=2))))
        rows.append((s * 10 + 1, bytearray(encode_baseline_jpeg(half, quant=2))))
        rows.append((s * 10 + 2, bytearray(encode_baseline_jpeg(img, quant=6))))
    df = spark.createDataFrame(rows, "id long, image binary")
    hashed = image_perceptual_hashes(df)
    pairs = near_dup_band_pairs(hashed, max_hamming=8).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    for s in range(3):
        base = s * 10
        assert (base, base + 1) in got, f"resized copy of scene {s} missed"
        assert (base, base + 2) in got, f"re-encoded copy of scene {s} missed"
    for pa, pb in got:
        assert pa // 10 == pb // 10, f"cross-scene false pair ({pa}, {pb})"


def test_phash_method_same_clusters(spark):
    """The DCT hash through the same distributed path finds the same
    planted re-encode pairs (method parameter exercises the second
    algorithm end-to-end)."""
    img = _scene(7)
    rows = [
        (0, bytearray(encode_baseline_jpeg(img, quant=2))),
        (1, bytearray(encode_baseline_jpeg(img, quant=6))),
        (2, bytearray(encode_baseline_jpeg(_scene(8), quant=2))),
    ]
    df = spark.createDataFrame(rows, "id long, image binary")
    hashed = image_perceptual_hashes(df, method="phash")
    got = {
        (r["id_a"], r["id_b"])
        for r in near_dup_band_pairs(hashed, max_hamming=10).collect()
    }
    assert (0, 1) in got
    assert (0, 2) not in got and (1, 2) not in got


def test_hot_band_cap_drops_degenerate_buckets(spark):
    """50 all-identical hashes (black frames) + cap 10: the degenerate
    band buckets exceed the cap in every band, so NO pairs emerge — the
    5·10¹¹-pair failure mode the cap exists for. Raising the cap above
    the multiplicity restores the pairs."""
    rows = [(i, 7, 7, 7, 7) for i in range(50)]
    hashed = spark.createDataFrame(rows, "id long, b0 long, b1 long, b2 long, b3 long")
    assert near_dup_band_pairs(hashed, max_band_df=10).count() == 0
    assert near_dup_band_pairs(hashed, max_band_df=50).count() == 50 * 49 // 2


def test_pigeonhole_recall_guarantee(spark):
    """Hamming distance ≤ 3 ⇒ at least one of the 4 bands is untouched ⇒
    the pair is ALWAYS a candidate: plant hashes at distances 1-3 in
    adversarial positions (bits spread across different bands) and
    assert perfect recall."""
    base = (0x1234, 0x5678, 0x9ABC, 0x0DEF)
    variants = [
        (1, base[0] ^ 1, base[1], base[2], base[3]),          # d=1
        (2, base[0] ^ 1, base[1] ^ 2, base[2], base[3]),      # d=2, 2 bands
        (3, base[0] ^ 1, base[1] ^ 2, base[2] ^ 4, base[3]),  # d=3, 3 bands
    ]
    rows = [(0, *base)] + variants
    hashed = spark.createDataFrame(rows, "id long, b0 long, b1 long, b2 long, b3 long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in near_dup_band_pairs(hashed, max_hamming=3).collect()
    }
    assert got[(0, 1)] == 1 and got[(0, 2)] == 2 and got[(0, 3)] == 3


def test_bad_method_rejected(spark):
    df = spark.createDataFrame([(0, bytearray(b"x"))], "id long, image binary")
    with pytest.raises(ValueError, match="unknown perceptual hash"):
        image_perceptual_hashes(df, method="ahash")


def test_image_dedup_end_to_end_clusters(spark):
    """The full image-dedup pipeline a corpus job runs: JPEG bytes →
    perceptual hashes → banded pairs → connected components (the text
    side's min-label machinery, composed unchanged) → keep the min-id
    survivor per component. Each scene's original/resized/re-encoded
    trio collapses to ONE survivor; distinct scenes keep theirs."""
    from caffeonspark_spark.operators.dedup import connected_components

    rows = []
    for s, seed in enumerate((4, 5, 6)):
        img = _scene(seed)
        rows.append((s * 10 + 0, bytearray(encode_baseline_jpeg(img, quant=2))))
        rows.append(
            (s * 10 + 1, bytearray(encode_baseline_jpeg(_downscale(img), quant=2)))
        )
        rows.append((s * 10 + 2, bytearray(encode_baseline_jpeg(img, quant=6))))
    df = spark.createDataFrame(rows, "id long, image binary")
    pairs = near_dup_band_pairs(image_perceptual_hashes(df), max_hamming=8)
    comp = connected_components(pairs)
    # survivors = all ids minus non-min members of each component
    drop = {r["node"] for r in comp.collect() if r["node"] != r["component"]}
    survivors = sorted({r[0] for r in rows} - drop)
    assert survivors == [0, 10, 20], survivors


def test_image_dedup_composed_map(spark):
    """The r12 composed ``image_dedup``: planted EXACT duplicates (byte-
    identical JPEGs — collapse in stage 1 without entering the band join)
    plus near-duplicate variants (resize/re-encode — stage 2/3) all map to
    the scene's min id; distinct scenes keep themselves. The output is a
    TOTAL map: one row per input id."""
    from caffeonspark_spark.multimodal.imagehash import image_dedup

    rows = []
    for s, seed in enumerate((4, 5, 6)):
        img = _scene(seed)
        enc = encode_baseline_jpeg(img, quant=2)
        rows.append((s * 10 + 0, bytearray(enc)))
        rows.append((s * 10 + 1, bytearray(enc)))  # exact byte copy
        rows.append(
            (s * 10 + 2, bytearray(encode_baseline_jpeg(_downscale(img), quant=2)))
        )
        rows.append((s * 10 + 3, bytearray(encode_baseline_jpeg(img, quant=6))))
    df = spark.createDataFrame(rows, "id long, image binary")
    got = {
        r["id"]: r["keep_id"]
        for r in image_dedup(image_perceptual_hashes(df)).collect()
    }
    assert len(got) == len(rows)  # total mapping
    for s in range(3):
        for m in range(4):
            assert got[s * 10 + m] == s * 10, got


def test_image_dedup_against_corpus_bipartite(spark):
    """Incremental-ingest image dedup: a new batch containing a re-encoded
    copy of a corpus image pairs with EXACTLY that corpus image; pairs are
    strictly cross-side (the batch's internal duplicate pair and the
    corpus's internal structure never appear)."""
    from caffeonspark_spark.multimodal.imagehash import (
        image_dedup_against_corpus,
    )

    corpus_rows = [
        (100 + i, bytearray(encode_baseline_jpeg(_scene(seed), quant=2)))
        for i, seed in enumerate((4, 5, 6))
    ]
    dup = _scene(5)
    new_rows = [
        (0, bytearray(encode_baseline_jpeg(dup, quant=6))),  # re-encode of 101
        (1, bytearray(encode_baseline_jpeg(dup, quant=6))),  # its exact twin
        (2, bytearray(encode_baseline_jpeg(_scene(9), quant=2))),  # fresh
    ]
    hn = image_perceptual_hashes(
        spark.createDataFrame(new_rows, "id long, image binary")
    )
    hr = image_perceptual_hashes(
        spark.createDataFrame(corpus_rows, "id long, image binary")
    )
    pairs = {
        (r["new_id"], r["ref_id"])
        for r in image_dedup_against_corpus(hn, hr).collect()
    }
    assert pairs == {(0, 101), (1, 101)}, pairs


def test_image_dedup_total_map_with_null_bands(spark):
    """A hash table containing NULL-band rows (a portable fold over NULL
    text) must still produce a TOTAL map — null-band rows group together
    and map to their min id instead of silently vanishing from the
    output (null-safe band equality in the rep join)."""
    from caffeonspark_spark.multimodal.imagehash import image_dedup

    rows = [
        (1, 10, 20, 30, 40),
        (2, 10, 20, 30, 40),
        (7, None, None, None, None),
        (9, None, None, None, None),
    ]
    df = spark.createDataFrame(rows, "id long, b0 long, b1 long, b2 long, b3 long")
    got = {r["id"]: r["keep_id"] for r in image_dedup(df).collect()}
    assert got == {1: 1, 2: 1, 7: 7, 9: 7}, got


def test_huge_exact_family_survives_composition(spark):
    """The scenario the exact-first staging exists for: 300 byte-identical
    images (band document frequency 300 >> max_band_df) make the naive
    banded pair phase drop the family ENTIRELY at the hot cap — but the
    composed image_dedup collapses them in the exact pass first, so every
    copy still maps to the min id and the band phase sees ONE survivor."""
    from caffeonspark_spark.multimodal.imagehash import image_dedup

    enc = encode_baseline_jpeg(_scene(4), quant=2)
    fresh = encode_baseline_jpeg(_scene(9), quant=2)
    rows = [(i, bytearray(enc)) for i in range(300)] + [(999, bytearray(fresh))]
    hashed = image_perceptual_hashes(
        spark.createDataFrame(rows, "id long, image binary")
    )
    # naive banding: the family's bands are all hot -> zero pairs
    assert near_dup_band_pairs(hashed, max_band_df=50).collect() == []
    # composition: exact pass first -> total map, family -> min id
    got = {r["id"]: r["keep_id"] for r in image_dedup(hashed).collect()}
    assert len(got) == 301
    assert all(got[i] == 0 for i in range(300))
    assert got[999] == 999


def test_image_dedup_against_corpus_query_matches_oracle(spark, sf_smoke):
    """r13 declared query: the portable batch-vs-corpus pair set matches
    the DuckDB bipartite twin cell-for-cell at smoke scale (the driver
    repeats this at sf0.01)."""
    from caffeonspark_spark.multimodal.imagehash import (
        ORACLE_IMAGE_DEDUP_AGAINST_CORPUS,
        image_dedup_against_corpus_query,
    )
    from tests.oracle_check import compare

    ok, msg = compare(
        image_dedup_against_corpus_query(spark, sf_smoke),
        ORACLE_IMAGE_DEDUP_AGAINST_CORPUS,
        sf_smoke,
    )
    assert ok, msg


def test_image_native_planted_families_match_combinatorics(spark, sf_smoke):
    """r13: the planted-family native query's pair set EQUALS the family
    combinatorics through the real PGM decode path — recall (every
    contrast-scaled copy found: dHash is exactly invariant to strictly
    monotone intensity maps) and precision (zero cross-family pairs at
    Hamming <= 2; measured min cross distance 17 at this corpus size)."""
    from caffeonspark_spark.catalog import table_nrows
    from caffeonspark_spark.multimodal.imagehash import (
        _I_FAMILY,
        image_dhash_pairs_native,
    )

    got = {
        (r["id_a"], r["id_b"])
        for r in image_dhash_pairs_native(spark, sf_smoke).collect()
    }
    n = table_nrows(sf_smoke, "documents")
    want = {
        (a, b)
        for base in range(0, n, _I_FAMILY)
        for a in range(base, min(base + _I_FAMILY, n))
        for b in range(a + 1, min(base + _I_FAMILY, n))
    }
    assert got == want and len(want) > 0, (len(got), len(want))


def test_planted_ceiling_warning():
    """r14 (r13 ADVICE): the planted-family natives rest on margins
    measured up to 20k docs — beyond that the shared guard must warn with
    the right diagnosis; at or below it, stay quiet."""
    import warnings

    from caffeonspark_spark.multimodal.imagehash import (
        PLANTED_STUDY_CEILING,
        warn_if_beyond_planted_ceiling,
    )

    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        warn_if_beyond_planted_ceiling(PLANTED_STUDY_CEILING, "x")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        warn_if_beyond_planted_ceiling(PLANTED_STUDY_CEILING + 1, "img_q")
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "img_q" in str(w.message)
        and "margin" in str(w.message)
        for w in caught
    )
