"""Perceptual image hashing + near-duplicate pairs — the IMAGE-modality
member of the dedup family.

The reference engine is built around image tuples
(``ImageDataSource.scala:27-29``: (id, encoded bytes, height, width, ...))
but ships no image dedup; the text side here has MinHash/SimHash/winnowing.
This module closes the modality gap with the standard perceptual-hash
construction real pipelines use (dHash gradient hash, pHash DCT hash):

  decode → gray → area-resize → 64 hash bits → 4×16-bit LSH bands →
  band-bucket equi-join candidates → exact Hamming filter.

Banding gives the pigeonhole recall guarantee (two hashes within Hamming
distance 3 share at least one of the 4 bands) and — exactly like the text
MinHash banding — keeps the pair join an EQUI-join on a small key: at
100 TB the band table is (id, k, band) with an 8-byte key, candidates are
bucket collisions, and a degenerate hot band (black frames, test cards)
is capped with ``max_band_df`` — ``prune_stop_shingles``' rationale
applied to pixels. The Hamming filter is JVM ``bit_count(xor)`` on four
16-bit ints (kept as separate columns: 4×16 sidesteps signed-64-bit edge
cases in cross-engine arithmetic).

Hash layout: bit (row i, gradient j) lands at band k = i // 2,
position (i % 2) * 8 + j — row-local image edits touch one band, so
edited copies always collide on the other three (stronger than the
generic distance-3 bound for the edit class that matters).

The hashes themselves are computed per image inside one linear
``mapInPandas`` pass (Arrow-batched, payload bytes never shuffle); the
pair phase is pure Catalyst. The oracle-checked declared twin replaces
the decode step with a portable text-derived pixel matrix (same
arithmetic in DuckDB — the KMV portable/native pattern) so the banding +
Hamming plumbing hash-verifies end-to-end, while the real decode path is
pinned by planted resized/re-encoded duplicates in pytest
(``tests/test_imagehash.py``).
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from caffeonspark_spark.catalog import load_table
from caffeonspark_spark.multimodal.columns import decode_image

_FP_MOD = (1 << 31) - 1
_CHUNK_LEN = 64
_N_ROWS = 8  # hash rows (one 16-bit band per 2 rows)
_N_COLS = 9  # 9 columns -> 8 horizontal gradients per row
#: the pair-phase defaults, shared by EVERY band-table consumer (pair
#: queries, composed dedup, against-corpus) AND interpolated into every
#: DuckDB oracle below — one edit moves the Spark side and the oracle
#: together (the r12-ADVICE anti-desync discipline; the r13 review found
#: the literals drifting back in, hence the named constants)
MAX_HAMMING_DEFAULT = 8
BAND_CAP_DEFAULT = 50


# --- numpy tier (real images) ----------------------------------------------

def to_gray(img_hwc: np.ndarray) -> np.ndarray:
    """HWC uint8 → HW uint8 gray: integer channel mean (deterministic,
    no float weights — hash stability beats colorimetric accuracy)."""
    if img_hwc.ndim == 2:
        return img_hwc
    if img_hwc.shape[2] == 1:
        return img_hwc[:, :, 0]
    return (img_hwc.astype(np.int64).sum(axis=2) // img_hwc.shape[2]).astype(
        np.uint8
    )


def resize_area(gray: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Box-average (area) downscale in pure NumPy — the filter that makes
    perceptual hashes robust to resizing, unlike nearest-neighbour which
    aliases. Boxes are the float-boundary partition of the input grid;
    exact block means when dimensions divide evenly. Output uint8 floor.

    Inputs SMALLER than the target (tiny icons) widen every empty box to
    its nearest pixel — the degenerate-box limit of area averaging is
    nearest replication. Without the widening an empty box summed to 0,
    so a 1×1 white icon hashed as mostly BLACK gradient rows."""
    h, w = gray.shape[:2]
    ys = (np.arange(out_h + 1) * h / out_h).round().astype(np.int64)
    xs = (np.arange(out_w + 1) * w / out_w).round().astype(np.int64)
    ys[-1], xs[-1] = h, w
    ylo = np.minimum(ys[:-1], h - 1)
    yhi = np.minimum(np.maximum(ys[1:], ylo + 1), h)
    xlo = np.minimum(xs[:-1], w - 1)
    xhi = np.minimum(np.maximum(xs[1:], xlo + 1), w)
    c = np.zeros((h + 1, w + 1), dtype=np.float64)
    c[1:, 1:] = gray.astype(np.float64).cumsum(axis=0).cumsum(axis=1)
    area = (yhi[:, None] - ylo[:, None]) * (xhi[None, :] - xlo[None, :])
    s = (
        c[yhi, :][:, xhi]
        - c[ylo, :][:, xhi]
        - c[yhi, :][:, xlo]
        + c[ylo, :][:, xlo]
    )
    return np.clip(s / area, 0, 255).astype(np.uint8)


def dhash_bands(gray: np.ndarray) -> tuple[int, int, int, int]:
    """Gradient (difference) hash of an 8×9 gray matrix → four 16-bit
    bands. bit(i, j) = gray[i, j] < gray[i, j+1]; band k collects rows
    2k and 2k+1 at positions (i%2)*8 + j."""
    assert gray.shape == (_N_ROWS, _N_COLS), gray.shape
    bits = (gray[:, :-1] < gray[:, 1:]).astype(np.int64)  # (8, 8)
    weights = 1 << (np.arange(8)[None, :] + (np.arange(8)[:, None] % 2) * 8)
    rowvals = (bits * weights).sum(axis=1)  # per-row partial band
    return tuple(int(rowvals[2 * k] + rowvals[2 * k + 1]) for k in range(4))


def phash_bands(gray32: np.ndarray) -> tuple[int, int, int, int]:
    """DCT perceptual hash: 32×32 gray → 2-D DCT-II → 8×8 low-frequency
    block → bit = coefficient > median (DC excluded from the median so a
    brightness offset can't flip the whole hash). Same 4×16-bit band
    layout as dHash so the pair machinery is shared."""
    assert gray32.shape == (32, 32), gray32.shape
    n = 32
    i = np.arange(n)
    basis = np.cos(np.pi * (2 * i[None, :] + 1) * i[:, None] / (2 * n))
    d = basis @ gray32.astype(np.float64) @ basis.T
    low = d[:_N_ROWS, : _N_ROWS]
    med = np.median(low.reshape(-1)[1:])  # exclude DC
    bits = (low > med).astype(np.int64)  # (8, 8)
    weights = 1 << (np.arange(8)[None, :] + (np.arange(8)[:, None] % 2) * 8)
    rowvals = (bits * weights).sum(axis=1)
    return tuple(int(rowvals[2 * k] + rowvals[2 * k + 1]) for k in range(4))


# --- distributed hash computation (one linear Arrow pass) -------------------

def image_perceptual_hashes(
    df: DataFrame,
    image_col: str = "image",
    id_col: str = "id",
    method: str = "dhash",
    decoder: Callable[[bytes, int], np.ndarray] = decode_image,
    channels: int = 3,
) -> DataFrame:
    """Per-image perceptual hash as four 16-bit band columns
    ``(id, b0, b1, b2, b3)`` — one linear ``mapInPandas`` pass, no
    shuffle; encoded bytes stay in Arrow and never leave the task."""
    if method not in ("dhash", "phash"):
        raise ValueError(f"unknown perceptual hash method: {method}")

    def run(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            ids, b0, b1, b2, b3 = [], [], [], [], []
            for rid, data in zip(pdf[id_col], pdf[image_col]):
                gray = to_gray(decoder(bytes(data), channels))
                if method == "dhash":
                    bands = dhash_bands(resize_area(gray, _N_ROWS, _N_COLS))
                else:
                    bands = phash_bands(resize_area(gray, 32, 32))
                ids.append(rid)
                b0.append(bands[0])
                b1.append(bands[1])
                b2.append(bands[2])
                b3.append(bands[3])
            yield pd.DataFrame(
                {"id": ids, "b0": b0, "b1": b1, "b2": b2, "b3": b3}
            )

    return df.mapInPandas(
        run, "id long, b0 long, b1 long, b2 long, b3 long"
    )


# --- pair phase (pure Catalyst, shared by every hash source) -----------------

def band_hamming(prefix_a: str = "a_b", prefix_b: str = "b_b") -> Column:
    """``Σ bit_count(xor)`` over the four 16-bit band columns — the ONE
    Hamming-distance expression every pair phase (image/audio/video,
    self-join and bipartite) applies to ``{prefix}0..{prefix}3`` aliased
    sides, so a semantics change lands everywhere at once (r12 review:
    the expression had grown four hand-copies)."""
    return sum(
        F.bit_count(F.col(f"{prefix_a}{k}").bitwiseXOR(F.col(f"{prefix_b}{k}")))
        for k in range(4)
    )


def packed_bands() -> Column:
    """The four 16-bit bands packed into ONE long:
    ``b0 | b1<<16 | b2<<32 | b3<<48``. Because the fields are disjoint,
    ``bit_count(xor(pack_a, pack_b)) == Σ_k bit_count(xor(b_k, b'_k))``
    — exactly ``band_hamming`` — so a candidate row can carry the whole
    hash as one 8-byte column through the band explode and the pair
    phase computes the exact Hamming INLINE on the candidate join
    output. r16 optimization (guide §2.3/§2.4): this deletes the two
    hash-table re-joins (4 Exchanges: candidate pairs shuffled twice +
    the hash table shuffled twice) every pair phase previously paid to
    re-attach bands to pairs, at the cost of +8 bytes per exploded band
    row (24 → 32 B). At 100 TB the trade is strictly favorable: one
    shuffle widens by a third, two full shuffles of the candidate-pair
    and hash tables disappear."""
    return (
        F.col("b0")
        + F.shiftleft(F.col("b1"), 16)
        + F.shiftleft(F.col("b2"), 32)
        + F.shiftleft(F.col("b3"), 48)
    )


def packed_hamming(h_a: Column, h_b: Column) -> Column:
    """Exact 64-bit Hamming distance between two ``packed_bands`` longs —
    value-identical to ``band_hamming`` on the unpacked columns."""
    return F.bit_count(h_a.bitwiseXOR(h_b))


def near_dup_band_pairs(
    hashed: DataFrame,
    id_col: str = "id",
    max_hamming: int = MAX_HAMMING_DEFAULT,
    max_band_df: int = BAND_CAP_DEFAULT,
) -> DataFrame:
    """Near-duplicate pairs from a ``(id, b0..b3)`` band table:
    band-bucket equi-join candidates (hot bands with document frequency
    > ``max_band_df`` dropped — the ``prune_stop_shingles`` cap: one
    all-black band shared by 1M frames is 5·10¹¹ pairs), then the exact
    Hamming filter ``Σ bit_count(xor(bands))`` ≤ ``max_hamming``. Output
    ``(id_a, id_b, hamming)`` with ``id_a < id_b``.

    Scale contract: candidates ∝ band collisions (bounded max_band_df²
    per hot value), the band shuffle key is (k, band) and each row
    additionally carries the full hash as ONE packed long
    (``packed_bands``), so the exact Hamming is computed INLINE on the
    candidate join output — r16 removed the two hash-table re-joins
    (4 Exchanges) the previous shape paid to re-attach bands to pairs,
    for +8 B per exploded band row. Pure JVM expressions end-to-end; no
    window, no crossJoin. The hash table feeds three plan subtrees
    (hot-cap agg + both candidate sides), so it is cached with
    ``engine.pin`` — the minhash signature-table precedent; at 100 TB this is the hash table written once and reused
    by every downstream job.

    The cap drops a hot bucket's pairs ENTIRELY — including true
    duplicates, exactly like ``prune_stop_shingles``. A corpus with huge
    exact-duplicate families (the same thumbnail a million times) should
    run an exact pass FIRST — groupBy the full (b0..b3) hash, keep one
    representative (``dedup_exact``'s shape on an 8-byte key) — and band
    only the survivors; the cap then prunes genuinely-degenerate bands
    (black frames), not duplicate mass."""
    from caffeonspark_spark.engine import pin

    ha = pin(
        hashed.select(F.col(id_col).alias("id"), "b0", "b1", "b2", "b3"),
    )
    long_bands = ha.select(
        "id",
        packed_bands().alias("h"),
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("k", "band"),
    )
    ok = (
        long_bands.groupBy("k", "band")
        .count()
        .where(F.col("count") <= max_band_df)
        .drop("count")
    )
    # the candidate join output carries both sides' packed hashes, so the
    # exact Hamming filters candidates INLINE; duplicate multi-band
    # collisions of a pair produce identical (id_a, id_b, hamming) rows
    # (hamming is a function of the pair), so the trailing distinct
    # dedupes exactly as the old pre-Hamming distinct did
    return (
        long_bands.join(ok, ["k", "band"])
        .alias("a")
        .join(
            long_bands.alias("b"),
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            packed_hamming(F.col("a.h"), F.col("b.h")).cast("long").alias(
                "hamming"
            ),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --- portable declared twin (text-derived pixels; DuckDB-reproducible) ------

def _chunk_fold(chunk_col: Column) -> Column:
    """Portable char-fold hash of an ALREADY-MATERIALIZED chunk column —
    the ``portable_token_hash`` arithmetic ((a·31 + code) mod 2³¹−1), so
    DuckDB reproduces it with list_reduce. Empty chunks (short docs) hash
    to 0 in both engines.

    r16 (guide §4.2): delegates to the batch-vectorized fold — the old
    interpreted per-char HOF chain was the dominant per-task cost of every
    image/video/audio portable front end (profiled 0.67 s/pass on the
    sf0.1 documents split vs 0.30 s for the whole vectorized pass; values
    bit-identical, pinned by the vec-vs-expression test). Empty → 0 and
    null → null exactly as before (the vectorized fold returns 0 for ''
    by construction — fold over zero columns — and propagates null)."""
    from caffeonspark_spark.functions.text import char_fold_vec

    return char_fold_vec(chunk_col)


def portable_image_bands(rs: list[str]) -> list[Column]:
    """The portable pixel matrix + dHash over MATERIALIZED row seeds:
    pixel(i, j) = (r_i · (j+1) + i) mod 256; dHash bit at (i, j) iff
    pixel(i, j) < pixel(i, j+1); band k packs rows 2k, 2k+1.

    ``rs`` must be plain column references, not the chunk-hash fold
    expressions themselves: each seed feeds 32 pixel comparisons, and
    Catalyst inlines (re-evaluates) a non-trivial expression at every
    reference — inlining the 64-char fold made the first cut of this
    query ~256 fold evaluations per row (measured 30 s at sf0.1 vs ~2 s
    staged). Project the seeds into real columns first; the same staging
    lesson as ``hard_negatives``' per-side norms.

    Chunk-local derivation is the point: an edit inside one 64-char
    window perturbs only that row's 8 bits — the behavior of a LOCAL
    image edit — so the documents table's shared-prefix near-dup
    families produce a graded Hamming spectrum, not just exact matches.

    ``rs`` is a list of column NAMES (r17): each band is built as ONE
    parsed SQL expression — the per-bit ``F.pmod``/compare/cast Column
    chain cost ~640 py4j round trips per invocation (cProfile: 1.9 s of
    the video_dedup_map construction was this function's socket chatter).
    Arithmetic is unchanged term for term: pmod(r·(j+1)+i, 256)
    comparisons, bit·2^t terms summed as longs — long addition is exact,
    so the value is bit-identical (oracles re-checked). The names are
    spliced into SQL text, so each must be a plain identifier."""
    assert all(isinstance(r, str) and r.isidentifier() for r in rs), rs

    def pix(r: str, i: int, j: int) -> str:
        return f"pmod({r} * {j + 1} + {i}, 256)"

    bands = []
    for k in range(4):
        terms = []
        for t in range(16):
            i, j = 2 * k + t // 8, t % 8
            terms.append(
                f"cast(({pix(rs[i], i, j)} < {pix(rs[i], i, j + 1)}) as long)"
                f" * {1 << t}"
            )
        bands.append(F.expr(" + ".join(terms)).alias(f"b{k}"))
    return bands


def image_dhash_pairs_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query (✔oracle): the full banding + Hamming pair pipeline
    over portable text-derived pixel matrices on the documents table —
    verifies every relational stage of the image dedup (band explode, hot
    cap, bucket join, distinct, Hamming filter) against DuckDB exactly."""
    return near_dup_band_pairs(portable_image_hash_table(spark, sf_dir))


def _pgm_rows(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """documents batches → (id, image) with the portable pixel matrix
    rendered as a REAL 32×36 PGM (P5) image: each hash pixel replicated
    4×4, so the production path's area-resize back to 8×9 recovers the
    exact matrix (box mean of a constant block). Python mirror of the
    portable arithmetic — divergence is caught by the consistency twin."""
    for pdf in pdfs:
        ids, imgs = [], []
        for rid, text in zip(pdf["doc_id"], pdf["text"]):
            rows = []
            for i in range(_N_ROWS):
                chunk = (text or "")[i * _CHUNK_LEN : (i + 1) * _CHUNK_LEN]
                r = 0
                for ch in chunk:
                    r = (r * 31 + ord(ch)) % _FP_MOD
                rows.append(
                    [(r * (j + 1) + i) % 256 for j in range(_N_COLS)]
                )
            mat = np.array(rows, dtype=np.uint8)
            big = np.repeat(np.repeat(mat, 4, axis=0), 4, axis=1)
            pgm = b"P5\n%d %d\n255\n" % (big.shape[1], big.shape[0]) + big.tobytes()
            ids.append(rid)
            imgs.append(pgm)
        yield pd.DataFrame({"id": ids, "image": imgs})


def image_dhash_pairs_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The text-rendered production-path pair set (consistency-twin side):
    render each document's portable pixel matrix as a real 32×36 PGM, run
    the from-spec decode tier, area-resize, dHash, banding, Hamming —
    over real encoded bytes DuckDB cannot decode. Bit-equal to the
    portable twin's pair set by construction (the render/decode/resize
    round-trip is lossless); ``image_dhash_native_consistency`` pins it.
    Until r13 this WAS the declared ``image_dhash_pairs_native`` row
    (rows-only); the declared native row is now the planted-family query
    below, which carries a real recall+precision oracle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    imgs = docs.mapInPandas(_pgm_rows, "id long, image binary")
    hashed = image_perceptual_hashes(imgs, channels=1)
    return near_dup_band_pairs(hashed)


#: planted image families: _I_FAMILY consecutive doc_ids share one
#: high-entropy random 8×9 scene (values 0.._I_LEVELS-1); copy m is the
#: scene CONTRAST-SCALED by _I_SCALES[m]. Strictly monotone intensity
#: maps preserve every gray[i,j] < gray[i,j+1] comparison AND every tie,
#: so dHash is EXACTLY invariant (the image analog of audio's gain-exact
#: temporal gradient); 63*4 = 252 stays in u8. Measured margins (numpy
#: study, r13): intra-family drift 0 bits at every scale; min
#: cross-family Hamming 17 @ 500 docs / 12 @ 5,000 / 11 @ 20,000 —
#: nothing near the ≤2 pair gate; max band df 28 @ 20,000 under the
#: corpus-scaled cap (the audio pattern). Tested SF ceiling: 20,000 docs.
_I_FAMILY = 4
_I_SCALES = (1, 2, 3, 4)
_I_LEVELS = 64


#: corpus size up to which the planted-family cross-distance margins were
#: MEASURED (the numpy studies cited per modality: image min cross
#: Hamming 11, video 10, audio 6 at 20k docs vs the ≤2 gates)
PLANTED_STUDY_CEILING = 20_000


def warn_if_beyond_planted_ceiling(n_docs: int, query: str) -> None:
    """The planted-family exact-equality oracles rest on PROBABILISTIC
    cross-family distance margins measured up to ``PLANTED_STUDY_CEILING``
    docs; beyond that a chance cross-family pair inside the Hamming gate
    can flip the oracle even though the code is correct. Fail LOUDLY with
    the right diagnosis instead of letting a future larger SF read as a
    dedup regression (r13 ADVICE). Shared by every modality's native
    query, next to the shared construction itself."""
    if n_docs > PLANTED_STUDY_CEILING:
        import warnings

        warnings.warn(
            f"{query}: planted-family cross-distance margins are measured "
            f"only up to {PLANTED_STUDY_CEILING} docs; at {n_docs} a "
            "chance cross-family pair inside the Hamming gate can break "
            "the exact-equality oracle without any code defect — re-run "
            "the margin study (widen levels/scales or raise the gate "
            "margin) before trusting a mismatch",
            RuntimeWarning,
            stacklevel=3,
        )


def planted_family_matrix(
    rid: int,
    shape: tuple,
    family: int = _I_FAMILY,
    scales: tuple = _I_SCALES,
    levels: int = _I_LEVELS,
    _base_cache: dict | None = None,
) -> np.ndarray:
    """THE planted-family construction, shared by every modality's native
    query generator (image PGMs here, video clips in ``av.py``) so a
    margin re-tune (levels, scale tuple, family size) moves all of them
    together (r13 review finding): copy ``rid``'s matrix is the family
    base scene (seeded by the family id) contrast-scaled by its member
    index — strictly monotone, so dHash-exact."""
    fam = rid - rid % family
    key = (fam, shape, levels)
    if _base_cache is not None and key in _base_cache:
        base = _base_cache[key]
    else:
        base = np.random.default_rng(fam).integers(0, levels, shape)
        if _base_cache is not None:
            _base_cache[key] = base
    return (base * scales[rid % family]).astype(np.uint8)


def family_combinatorics_sql(family: int) -> str:
    """The one family-combinatorics oracle, parameterized by family size
    — every within-family ordered pair (the exact set each planted-family
    construction guarantees its production path emits)."""
    return f"""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM documents a JOIN documents b
      ON (a.doc_id - (a.doc_id % {family})) = (b.doc_id - (b.doc_id % {family}))
     AND a.doc_id < b.doc_id
"""


def _planted_image_hash_rows(
    pdfs: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """(doc_id) batches → (id, b0..b3): the planted-PGM render, the
    from-spec decode tier and the dHash fused into ONE Python pass
    (guide §4: previously the PGM bytes crossed the JVM↔Python Arrow
    boundary twice between the render and hash mapInPandas stages; fused
    they never leave the task). Same construction, same
    ``decode_image`` → ``to_gray`` → ``resize_area`` → ``dhash_bands``
    calls in the same order, so the hash values are bit-identical —
    re-proven by the exact family-combinatorics oracle and the
    render-stage consistency twin. The family base scene is cached per
    batch (members of one family share it; the dict is batch-scoped so
    it cannot grow with the corpus)."""
    for pdf in pdfs:
        base_cache: dict = {}
        ids, b0, b1, b2, b3 = [], [], [], [], []
        for rid in pdf["doc_id"]:
            rid = int(rid)
            scaled = planted_family_matrix(
                rid, (_N_ROWS, _N_COLS), _base_cache=base_cache
            )
            big = np.repeat(np.repeat(scaled, 4, axis=0), 4, axis=1)
            pgm = b"P5\n%d %d\n255\n" % (big.shape[1], big.shape[0]) + big.tobytes()
            bands = dhash_bands(
                resize_area(to_gray(decode_image(pgm, 1)), _N_ROWS, _N_COLS)
            )
            ids.append(rid)
            b0.append(bands[0])
            b1.append(bands[1])
            b2.append(bands[2])
            b3.append(bands[3])
        yield pd.DataFrame({"id": ids, "b0": b0, "b1": b1, "b2": b2, "b3": b3})


def image_dhash_pairs_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query (✔oracle — exact pair-set equality, the
    ``audio_dup_pairs_native`` planted-family pattern): PLANTED-FAMILY
    RECALL through the production image path. Every ``_I_FAMILY``
    consecutive doc_ids share one high-entropy random scene at four
    contrast scales; each copy is encoded to real PGM bytes and runs the
    from-spec decode tier → area-resize → dHash → banding → Hamming at
    ``max_hamming=2``. Strictly monotone contrast scaling preserves the
    dHash bit-for-bit (measured drift 0), and at Hamming ≤ 2 no
    cross-family pair survives (measured min cross distance 11 at 20,000
    docs), so the emitted ``(id_a, id_b)`` set EQUALS the family
    combinatorics — which IS the DuckDB oracle. A missed copy (recall) or
    a false pair (precision) breaks the hash.

    The hot-band cap scales with the corpus (``max(50, n_docs // 100)``,
    the audio rationale: band df grows linearly in corpus size) and the
    count comes from parquet footer metadata, not an eager Spark job."""
    from caffeonspark_spark.catalog import table_nrows
    from caffeonspark_spark.engine import scale_out

    docs = scale_out(  # r16: rebalance the 8-byte ids before the
        # heavy per-row synth/decode work (single-split scans serialize
        # it onto one task; no-op on multi-split scans, per-row outputs
        # are functions of doc_id so partitioning cannot change values)
        load_table(spark, sf_dir, "documents").select("doc_id")
    )
    n_docs = table_nrows(sf_dir, "documents")
    warn_if_beyond_planted_ceiling(n_docs, "image_dhash_pairs_native")
    cap = max(50, n_docs // 100)
    # r16: render → decode → hash fused into one mapInPandas pass — the
    # PGM bytes never cross the Arrow boundary (guide §4); see
    # _planted_image_hash_rows for the bit-identity argument
    hashed = docs.mapInPandas(
        _planted_image_hash_rows, "id long, b0 long, b1 long, b2 long, b3 long"
    )
    return near_dup_band_pairs(
        hashed, max_hamming=2, max_band_df=cap
    ).select("id_a", "id_b")


ORACLE_IMAGE_DUP_NATIVE = family_combinatorics_sql(_I_FAMILY)


def image_dhash_native_consistency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Declared query (✔oracle): ONE row proving the native decode path
    emits EXACTLY the portable twin's pair set — full-outer join of the
    two pair tables, count, and a boolean that any missing or
    Hamming-mismatched pair flips (the ``kmv_native_consistency``
    pattern, with strict equality instead of a tolerance: the PGM
    render/decode/resize round-trip is lossless by construction)."""
    nat = image_dhash_pairs_render(spark, sf_dir).withColumnRenamed(
        "hamming", "n_ham"
    )
    por = image_dhash_pairs_portable(spark, sf_dir).withColumnRenamed(
        "hamming", "p_ham"
    )
    both = por.join(nat, ["id_a", "id_b"], "full_outer")
    bad = F.when(
        F.col("p_ham").isNull()
        | F.col("n_ham").isNull()
        | (F.col("p_ham") != F.col("n_ham")),
        1,
    ).otherwise(0)
    return both.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (F.coalesce(F.sum(bad), F.lit(0)) == 0).alias("pairs_identical"),
    )


def image_dhash_clusters(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str | None = None
) -> DataFrame:
    """Declared query (✔oracle): near-duplicate image CLUSTERS — the
    survivor-group assignment step after pair generation — as connected
    components over the portable pair set, value-checked against a
    recursive-CTE min-label propagation in DuckDB (the
    ``neardup_clusters`` oracle pattern applied to the image modality).
    At 100 TB this composes the persisted hash table's pair output with
    the same O(diameter)-round min-label machinery the text side runs —
    near-dup clusters are tiny, so 2-3 rounds in practice."""
    from caffeonspark_spark.operators.dedup import connected_components

    return connected_components(
        image_dhash_pairs_portable(spark, sf_dir),
        checkpoint_dir=checkpoint_dir,
    ).orderBy("node")


_IMAGE_PAIR_CTES = f"""chunks AS (
        SELECT doc_id, i,
               CASE WHEN length(substring(text, i*64+1, 64)) = 0 THEN 0
                    ELSE list_reduce([CAST(0 AS BIGINT)] ||
                        list_transform(
                            range(1, length(substring(text, i*64+1, 64)) + 1),
                            c -> CAST(ascii(substring(text, i*64+1, 64)[c]) AS BIGINT)),
                        (a, x) -> (a * 31 + x) % 2147483647)
               END AS r
        FROM documents, range(0, 8) t(i)
    ),
    bits AS (
        SELECT doc_id, CAST(i // 2 AS INT) AS k,
               ((i % 2) * 8 + j) AS pos,
               CASE WHEN (r * (j+1) + i) % 256 < (r * (j+2) + i) % 256
                    THEN 1 ELSE 0 END AS b
        FROM chunks, range(0, 8) s(j)
    ),
    bands AS (
        SELECT doc_id, k, CAST(SUM(b * (1::BIGINT << pos)) AS BIGINT) AS band
        FROM bits GROUP BY doc_id, k
    ),
    ok_bands AS (
        SELECT k, band FROM bands GROUP BY k, band
        HAVING COUNT(*) <= {BAND_CAP_DEFAULT}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN ok_bands o ON a.k = o.k AND a.band = o.band
        JOIN bands b ON b.k = a.k AND b.band = a.band AND a.doc_id < b.doc_id
    ),
    ham AS (
        SELECT c.id_a, c.id_b,
               CAST(SUM(bit_count(xor(x.band, y.band))) AS BIGINT) AS hamming
        FROM cand c
        JOIN bands x ON x.doc_id = c.id_a
        JOIN bands y ON y.doc_id = c.id_b AND y.k = x.k
        GROUP BY c.id_a, c.id_b
    ),
    pairs AS (
        SELECT id_a, id_b, hamming FROM ham
        WHERE hamming <= {MAX_HAMMING_DEFAULT}
    )"""

ORACLE_IMAGE_DHASH_PAIRS = f"""
    WITH {_IMAGE_PAIR_CTES}
    SELECT id_a, id_b, hamming FROM pairs
"""

ORACLE_IMAGE_DHASH_CONSISTENCY = f"""
    WITH {_IMAGE_PAIR_CTES}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, TRUE AS pairs_identical
    FROM pairs
"""

ORACLE_IMAGE_DHASH_CLUSTERS = f"""
    WITH RECURSIVE {_IMAGE_PAIR_CTES},
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION ALL
        SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT DISTINCT u, u FROM edges
        UNION
        SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
    )
    SELECT node, MIN(lbl) AS component FROM reach GROUP BY node ORDER BY node
"""


# --- composed dedup (exact pass -> banded survivors -> clusters -> map) -----

def image_dedup(
    hashed: DataFrame,
    id_col: str = "id",
    max_hamming: int = MAX_HAMMING_DEFAULT,
    max_band_df: int = BAND_CAP_DEFAULT,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """The composed image dedup — ``clean_corpus``'s staging on pixels,
    turning ``near_dup_band_pairs``' docstring advice into code:

    1. **exact pass** — group on the FULL 64-bit hash (b0..b3), keep the
       min-id representative per identical hash. Huge exact-duplicate
       families (the same thumbnail a million times) collapse BEFORE
       banding, so the hot-band cap afterwards prunes genuinely
       degenerate bands (black frames), never duplicate mass;
    2. **near pass** — banded LSH pairs + Hamming filter over the exact
       SURVIVORS only;
    3. **clusters** — connected components over the pair set (min-label,
       O(diameter) rounds).

    Returns ``(id, keep_id)`` for EVERY input id: ``keep_id`` is the
    smallest id among all images in its merged exact+near cluster, so
    ``keep_id == id`` marks survivors and the row count equals the input
    count (a governance-friendly total mapping, not just the drop list).

    Scale contract: the exact group moves (4×16-bit hash, id) pairs —
    never pixels; the near pass runs on one row per DISTINCT hash; the
    component rounds touch only the (tiny) near-pair graph; the final map
    is two equi-joins on 8-byte keys.

    MODALITY-AGNOSTIC despite the name: any ``(id, b0..b3)`` band table
    composes — ``audio_spectral_fingerprint`` drops in directly (pinned
    by ``test_audio_dup::test_audio_fingerprints_through_composed_dedup``;
    the per-clip exact pass collapses gain-identical fingerprints before
    banding exactly like byte-identical thumbnails). Per-FRAME video
    hashes do not: the clip gate (≥ min_frames matched positions) needs
    ``near_dup_video_pairs``' position-keyed pair phase instead."""
    from caffeonspark_spark.engine import pin
    from caffeonspark_spark.operators.dedup import connected_components

    # the input hash table feeds TWO consumers (the exact groupBy and the
    # final id->rep map join) — persist it or the per-image hash pass runs
    # twice (measured ~8 s of the query's cost at sf0.1 before the pin)
    ha = pin(
        hashed.select(F.col(id_col).alias("id"), "b0", "b1", "b2", "b3"),
    )
    exact_keep = pin(
        ha.groupBy("b0", "b1", "b2", "b3").agg(F.min("id").alias("rep")),
        # three consumers: the id->rep map, the survivor hash table, and
        # the component base — without the pin each re-runs the groupBy
        # SHUFFLE over ha. The near pass additionally pins its own
        # (id, b0..b3) reprojection of these rows: ~40 B/distinct-hash of
        # duplicated cache, accepted — two extra full shuffles of the
        # distinct-hash table would cost more at 100 TB than the copy
    )
    # null-SAFE band equality: groupBy treats NULL bands as a group, so a
    # null-unsafe equi-join here would silently drop NULL-band rows (a
    # user-supplied hash table with NULL bands, e.g. a portable fold over
    # NULL text) from the documented TOTAL map — the silent-exclusion
    # defect class the zscore guard exists for. Both sides are ALIASED and
    # referenced by qualifier: exact_keep derives from ha, and dataframe-
    # indexed columns (ha[c] vs exact_keep[c]) initially share attribute
    # ids, making Spark log a "trivially true equals predicate" WARN ×4
    # per run even though plan-id dedup resolves the join correctly
    # (r13 VERDICT nit #1)
    hl, er = ha.alias("hl"), exact_keep.alias("er")
    exact_map = hl.join(
        er,
        [
            F.col(f"hl.{c}").eqNullSafe(F.col(f"er.{c}"))
            for c in ("b0", "b1", "b2", "b3")
        ],
    ).select(F.col("hl.id").alias("id"), F.col("er.rep").alias("rep"))
    survivors = exact_keep.select(
        F.col("rep").alias("id"), "b0", "b1", "b2", "b3"
    )
    pairs = near_dup_band_pairs(
        survivors, max_hamming=max_hamming, max_band_df=max_band_df
    )
    comp = connected_components(
        pairs, checkpoint_dir=checkpoint_dir
    ).withColumnRenamed("node", "rep")
    rep_keep = exact_keep.select("rep").join(comp, "rep", "left").select(
        "rep", F.coalesce("component", F.col("rep")).alias("keep_id")
    )
    return exact_map.join(rep_keep, "rep").select("id", "keep_id")


def image_dedup_against_corpus(
    new_hashes: DataFrame,
    corpus_hashes: DataFrame,
    id_col: str = "id",
    max_hamming: int = MAX_HAMMING_DEFAULT,
    max_band_df: int = BAND_CAP_DEFAULT,
) -> DataFrame:
    """Bipartite image near-dup: pairs of NEW images against an existing
    REFERENCE corpus hash table — the incremental-ingest shape
    (``dedup_against_corpus``'s text pattern on pixels: dedup each crawl
    batch against images already kept; a within-corpus self-join cannot
    express it). Returns ``(new_id, ref_id, hamming)``.

    Scale contract: the corpus band table is the artifact you materialize
    ONCE (8 bytes/band/image) and reuse per batch; candidates are
    CROSS-side band collisions only (the join keeps new×ref, never
    ref×ref), the hot cap is computed on the CORPUS side (the side big
    enough to have degenerate bands), and the exact Hamming is computed
    INLINE on the candidate join via the packed hash column (r16 — see
    ``near_dup_band_pairs``). Both hash tables are cached with
    ``engine.pin`` — the corpus side feeds the cap agg and a candidate
    side."""
    from caffeonspark_spark.engine import pin

    hn = pin(
        new_hashes.select(F.col(id_col).alias("id"), "b0", "b1", "b2", "b3"),
    )
    hr = pin(
        corpus_hashes.select(F.col(id_col).alias("id"), "b0", "b1", "b2", "b3"),
    )

    def bands(t: DataFrame) -> DataFrame:
        return t.select(
            "id",
            packed_bands().alias("h"),
            F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("k", "band"),
        )

    ok = (
        bands(hr).groupBy("k", "band")
        .count()
        .where(F.col("count") <= max_band_df)
        .drop("count")
    )
    # packed hashes ride the band explode; Hamming is inline on the
    # cross-side candidate join (r16: the two re-attach joins are gone —
    # see near_dup_band_pairs)
    return (
        bands(hn).join(ok, ["k", "band"])
        .alias("a")
        .join(
            bands(hr).alias("b"),
            (F.col("a.k") == F.col("b.k")) & (F.col("a.band") == F.col("b.band")),
        )
        .select(
            F.col("a.id").alias("new_id"),
            F.col("b.id").alias("ref_id"),
            packed_hamming(F.col("a.h"), F.col("b.h")).cast("long").alias(
                "hamming"
            ),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def image_dedup_map_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query (✔oracle): the composed dedup's canonical-assignment
    map over the portable hash table — every document-image's smallest
    exact+near cluster member, checked against a DuckDB pipeline that
    re-runs all three stages (exact grouping, survivor-only banding,
    recursive-CTE components) cell-for-cell."""
    return image_dedup(
        portable_image_hash_table(spark, sf_dir)
    ).orderBy("id")


def portable_image_hash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, b0..b3) portable hash table of the documents corpus — the
    shared front end of the portable declared queries."""
    return portable_image_hash_table_df(load_table(spark, sf_dir, "documents"))


def portable_image_hash_table_df(docs: DataFrame) -> DataFrame:
    """``portable_image_hash_table`` over an explicit documents frame —
    lets declared queries hash a SUBSET (e.g. the corpus/batch split of
    ``image_dedup_against_corpus_query``) with identical arithmetic."""
    from caffeonspark_spark.engine import scale_out

    # r16 (guide §1.2/§2.5): the hash fold is per-row compute chained
    # map-side onto the scan — a single-split local scan serializes it
    # onto one task. Rebalance the narrow (id, text) rows first; a no-op
    # on a real multi-split scan, and per-row hashes are functions of the
    # row alone, so partitioning cannot change any value.
    docs = scale_out(docs.select("doc_id", "text"))
    chunked = docs.select(
        F.col("doc_id").alias("id"),
        *[
            F.substring(F.col("text"), i * _CHUNK_LEN + 1, _CHUNK_LEN).alias(
                f"c{i}"
            )
            for i in range(_N_ROWS)
        ],
    )
    seeded = chunked.select(
        "id",
        *[_chunk_fold(F.col(f"c{i}")).alias(f"r{i}") for i in range(_N_ROWS)],
    )
    return seeded.select(
        "id", *portable_image_bands([f"r{i}" for i in range(_N_ROWS)])
    )


ORACLE_IMAGE_DEDUP_MAP = f"""
    WITH RECURSIVE {_IMAGE_PAIR_CTES},
    wide AS (
        SELECT doc_id,
               MAX(CASE WHEN k = 0 THEN band END) AS b0,
               MAX(CASE WHEN k = 1 THEN band END) AS b1,
               MAX(CASE WHEN k = 2 THEN band END) AS b2,
               MAX(CASE WHEN k = 3 THEN band END) AS b3
        FROM bands GROUP BY doc_id
    ),
    egrp AS (
        SELECT b0, b1, b2, b3, MIN(doc_id) AS rep
        FROM wide GROUP BY b0, b1, b2, b3
    ),
    emap AS (
        SELECT w.doc_id AS id, e.rep
        FROM wide w JOIN egrp e USING (b0, b1, b2, b3)
    ),
    rbands AS (
        SELECT doc_id, k, band FROM bands
        WHERE doc_id IN (SELECT rep FROM egrp)
    ),
    rok AS (
        SELECT k, band FROM rbands GROUP BY k, band
        HAVING COUNT(*) <= {BAND_CAP_DEFAULT}
    ),
    rcand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM rbands a JOIN rok o ON a.k = o.k AND a.band = o.band
        JOIN rbands b ON b.k = a.k AND b.band = a.band AND a.doc_id < b.doc_id
    ),
    rham AS (
        SELECT c.id_a, c.id_b,
               CAST(SUM(bit_count(xor(x.band, y.band))) AS BIGINT) AS hamming
        FROM rcand c
        JOIN rbands x ON x.doc_id = c.id_a
        JOIN rbands y ON y.doc_id = c.id_b AND y.k = x.k
        GROUP BY c.id_a, c.id_b
    ),
    rpairs AS (SELECT id_a, id_b FROM rham WHERE hamming <= {MAX_HAMMING_DEFAULT}),
    redges AS (
        SELECT id_a AS u, id_b AS v FROM rpairs
        UNION ALL
        SELECT id_b AS u, id_a AS v FROM rpairs
    ),
    rreach(node, lbl) AS (
        SELECT DISTINCT u, u FROM redges
        UNION
        SELECT e.u, r.lbl FROM redges e JOIN rreach r ON e.v = r.node
    ),
    rcomp AS (SELECT node, MIN(lbl) AS component FROM rreach GROUP BY node),
    repkeep AS (
        SELECT g.rep, COALESCE(c.component, g.rep) AS keep_id
        FROM (SELECT DISTINCT rep FROM egrp) g
        LEFT JOIN rcomp c ON c.node = g.rep
    )
    SELECT m.id, r.keep_id
    FROM emap m JOIN repkeep r ON r.rep = m.rep
    ORDER BY m.id
"""


# --- cross-corpus (incremental) image dedup as a declared query -------------

def image_dedup_against_corpus_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Declared query (✔oracle): bipartite image near-dup — the portable
    hash table split by source (``src10+`` = incoming crawl batch,
    ``src0-9`` = kept corpus, the ``dedup_against_corpus`` split) and
    each batch image matched against the corpus only. This is the
    highest-frequency production dedup shape: dedup every new batch
    against what you already kept, where a within-corpus self-join
    cannot express the asymmetry. Value-checked cell-for-cell against a
    DuckDB twin that re-runs the fold→bands→corpus-capped bipartite
    join→Hamming pipeline.

    Scale notes live on ``image_dedup_against_corpus``: corpus band table
    materialized once per corpus version, candidates ∝ CROSS-side band
    collisions, hot cap computed on the corpus side."""
    from caffeonspark_spark.operators.dedup import split_corpus_by_source

    new_docs, ref_docs = split_corpus_by_source(
        load_table(spark, sf_dir, "documents")
    )
    return image_dedup_against_corpus(
        portable_image_hash_table_df(new_docs),
        portable_image_hash_table_df(ref_docs),
    ).orderBy("new_id", "ref_id")


ORACLE_IMAGE_DEDUP_AGAINST_CORPUS = f"""
    WITH {_IMAGE_PAIR_CTES},
    srcmap AS (
        SELECT doc_id, CAST(substr(source, 4) AS INT) >= 10 AS is_new
        FROM documents
    ),
    xbands AS (
        SELECT b.doc_id, s.is_new, b.k, b.band
        FROM bands b JOIN srcmap s USING (doc_id)
    ),
    rok AS (
        SELECT k, band FROM xbands WHERE NOT is_new
        GROUP BY k, band HAVING COUNT(*) <= {BAND_CAP_DEFAULT}
    ),
    xcand AS (
        SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS ref_id
        FROM xbands a JOIN rok o ON a.k = o.k AND a.band = o.band
        JOIN xbands b ON b.k = a.k AND b.band = a.band
        WHERE a.is_new AND NOT b.is_new
    ),
    xham AS (
        SELECT c.new_id, c.ref_id,
               CAST(SUM(bit_count(xor(x.band, y.band))) AS BIGINT) AS hamming
        FROM xcand c
        JOIN bands x ON x.doc_id = c.new_id
        JOIN bands y ON y.doc_id = c.ref_id AND y.k = x.k
        GROUP BY c.new_id, c.ref_id
    )
    SELECT new_id, ref_id, hamming FROM xham
    WHERE hamming <= {MAX_HAMMING_DEFAULT}
    ORDER BY new_id, ref_id
"""
