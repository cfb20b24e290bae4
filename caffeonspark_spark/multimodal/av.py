"""Audio/video multimodal columns: opaque binary + typed metadata.

The north-star extension alongside images (SURVEY.md §1.4): treat
audio/video payloads as ``binary`` columns wrapped in typed structs, with
decode / feature-extract / frame-sample as Arrow-batched operators over
``mapInPandas``. RIFF/WAVE audio decodes for REAL with no codec library
(``_wav_pcm_decode``: chunk walk + NumPy — PCM, float, G.711, IMA/MS
ADPCM); non-RIFF compressed audio and all compressed video remain behind
``NotImplementedError`` with a deterministic fake,
and production swaps the decoder callable (ffmpeg/torchaudio/PyAV),
exactly like ``columns.decode_image``'s codec tiers. The Spark-side
plumbing (struct schemas, UDF signatures, batch iteration, output shapes)
is identical for real and fake decoders.

Scale posture: one linear ``mapInPandas`` pass per operator — no shuffle, no
driver collect; payload bytes stay in Arrow buffers end to end. At 100 TB the
same plans run over binaryFile/parquet sources with the decode UDF as the
only Python stage.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from caffeonspark_spark.multimodal.imagehash import (
    BAND_CAP_DEFAULT as _PORTABLE_BAND_CAP,
    MAX_HAMMING_DEFAULT as _PORTABLE_MAX_HAMMING,
)

# audio payload + typed metadata (sample_rate/n_samples = the dims columns
# of the image tuple, applied to the time axis)
AUDIO_STRUCT_SCHEMA = T.StructType(
    [
        T.StructField("audio", T.BinaryType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
    ]
)

# video payload + typed metadata
VIDEO_STRUCT_SCHEMA = T.StructType(
    [
        T.StructField("video", T.BinaryType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
    ]
)


def _g711_tables() -> tuple[np.ndarray, np.ndarray]:
    """256-entry decode tables for ITU-T G.711 μ-law and A-law companding
    (the telephony WAV formats, WAVE_FORMAT_MULAW=7 / ALAW=6), built from
    the spec expansion formulas (the classic CCITT reference arithmetic:
    μ-law BIAS 0x84 with complemented code words; A-law 0x55 toggle with
    the seg-0/1 special cases). int16 linear levels."""
    ulaw = np.empty(256, dtype=np.int16)
    for b in range(256):
        u = ~b & 0xFF
        t = ((u & 0x0F) << 3) + 0x84
        t <<= (u & 0x70) >> 4
        ulaw[b] = (0x84 - t) if (u & 0x80) else (t - 0x84)
    alaw = np.empty(256, dtype=np.int16)
    for b in range(256):
        a = b ^ 0x55
        t = (a & 0x0F) << 4
        seg = (a & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        alaw[b] = t if (a & 0x80) else -t
    return ulaw, alaw


_ULAW_TABLE, _ALAW_TABLE = _g711_tables()

# IMA/DVI ADPCM (WAVE_FORMAT_IMA_ADPCM = 0x0011) quantizer tables — the
# published reference tables (IMA "Recommended Practices for Enhancing
# Digital Audio Compatibility", the same arithmetic the stdlib's DVI
# expansion uses, cross-checked in tests)
_IMA_STEPS = np.array(
    [7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
     41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
     190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
     724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
     2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
     6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
     16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767],
    dtype=np.int32,
)
_IMA_INDEX = np.array(
    [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32
)


def _ima_decode_nibbles(
    nibbles: np.ndarray, pred0: np.ndarray, idx0: np.ndarray
) -> np.ndarray:
    """Expand IMA ADPCM 4-bit codes → int16, VECTORIZED ACROSS BLOCKS:
    ``nibbles`` is (n_blocks, n_codes) and each block decodes its own
    (predictor, index) header state. The per-sample recurrence is
    sequential by definition, but blocks are independent, so the loop is
    over the ~505-sample block axis with NumPy work per step over all
    blocks at once — the same independence a 100 TB decode exploits by
    splitting on block boundaries."""
    n_blocks, n_codes = nibbles.shape
    pred = pred0.astype(np.int32).copy()
    idx = np.clip(idx0.astype(np.int32), 0, 88)
    out = np.empty((n_blocks, n_codes), dtype=np.int16)
    for t in range(n_codes):
        code = nibbles[:, t].astype(np.int32)
        step = _IMA_STEPS[idx]
        diff = (
            (step >> 3)
            + np.where(code & 4, step, 0)
            + np.where(code & 2, step >> 1, 0)
            + np.where(code & 1, step >> 2, 0)
        )
        pred = np.clip(
            np.where(code & 8, pred - diff, pred + diff), -32768, 32767
        )
        idx = np.clip(idx + _IMA_INDEX[code], 0, 88)
        out[:, t] = pred.astype(np.int16)
    return out


# MS ADPCM (WAVE_FORMAT_ADPCM = 0x0002) reference tables: the 7 standard
# predictor coefficient pairs and the delta adaptation row, per the
# Microsoft multimedia standards update (the same constants every
# mainstream decoder ships)
_MS_COEFS = np.array(
    [(256, 0), (512, -256), (0, 0), (192, 64), (240, 0), (460, -208),
     (392, -232)],
    dtype=np.int64,
)
_MS_ADAPT = np.array(
    [230, 230, 230, 230, 307, 409, 512, 614, 768, 614, 512, 409, 307,
     230, 230, 230],
    dtype=np.int64,
)


def _ms_decode_nibbles(
    nibbles: np.ndarray,
    pred_idx: np.ndarray,
    delta0: np.ndarray,
    s1: np.ndarray,
    s2: np.ndarray,
) -> np.ndarray:
    """Expand MS ADPCM 4-bit codes → int16, vectorized across blocks (the
    ``_ima_decode_nibbles`` independence argument verbatim): each block
    carries (predictor index, initial delta, the block's first two
    samples) in its header. Codes are SIGNED nibbles; the adaptation row
    indexes by the unsigned code; delta floors at 16."""
    n_blocks, n_codes = nibbles.shape
    c1 = _MS_COEFS[pred_idx, 0]
    c2 = _MS_COEFS[pred_idx, 1]
    delta = delta0.astype(np.int64).copy()
    samp1 = s1.astype(np.int64).copy()
    samp2 = s2.astype(np.int64).copy()
    out = np.empty((n_blocks, n_codes), dtype=np.int16)
    for t in range(n_codes):
        code = nibbles[:, t].astype(np.int64)
        signed = np.where(code >= 8, code - 16, code)
        pred = (samp1 * c1 + samp2 * c2) >> 8  # arithmetic shift = floor
        sample = np.clip(pred + signed * delta, -32768, 32767)
        out[:, t] = sample.astype(np.int16)
        samp2, samp1 = samp1, sample
        delta = np.maximum(16, (_MS_ADAPT[code] * delta) >> 8)
    return out


def _ms_adpcm_decode(raw: bytes, n_channels: int, block_align: int) -> np.ndarray:
    """WAV MS ADPCM data chunk → float32 mono in [-1, 1]. Block layout per
    the format spec: per-channel headers interleaved field-by-field
    (uint8 predictor ×ch, int16 idelta ×ch, int16 sample1 ×ch, int16
    sample2 ×ch), then 4-bit codes high-nibble-first, alternating
    channels nibble-by-nibble for stereo. The header samples are the
    block's first two output samples, sample2 FIRST."""
    hdr = 7 * n_channels
    if block_align < hdr + 1:
        raise ValueError("malformed WAV: bad MS ADPCM block align")
    n_blocks = len(raw) // block_align
    if n_blocks == 0 or len(raw) % block_align:
        raise ValueError("malformed WAV: truncated MS ADPCM data chunk")
    blocks = np.frombuffer(raw, dtype=np.uint8).reshape(n_blocks, block_align)
    pred_idx = blocks[:, 0:n_channels]
    if (pred_idx >= len(_MS_COEFS)).any():
        raise ValueError("malformed WAV: MS ADPCM predictor out of range")
    i16 = blocks[:, n_channels : hdr].copy().view("<i2").reshape(
        n_blocks, 3, n_channels
    )
    body = blocks[:, hdr:]
    nibs = np.empty((n_blocks, body.shape[1] * 2), dtype=np.uint8)
    nibs[:, 0::2] = body >> 4  # high nibble first
    nibs[:, 1::2] = body & 0x0F
    chans = []
    for c in range(n_channels):
        mine = nibs[:, c::n_channels]
        decoded = _ms_decode_nibbles(
            mine,
            pred_idx[:, c].astype(np.int64),
            i16[:, 0, c],
            i16[:, 1, c],
            i16[:, 2, c],
        )
        full = np.concatenate(
            [i16[:, 2, c].reshape(-1, 1), i16[:, 1, c].reshape(-1, 1), decoded],
            axis=1,
        ).astype(np.int16)
        chans.append(full.reshape(-1).astype(np.float32) / 32768.0)
    wave = np.mean(np.stack(chans, axis=0), axis=0) if n_channels > 1 else chans[0]
    return wave.astype(np.float32)


def _ima_adpcm_decode(raw: bytes, n_channels: int, block_align: int) -> np.ndarray:
    """WAV IMA ADPCM data chunk → float32 mono in [-1, 1]. Block layout per
    the format spec: one 4-byte header per channel (int16 predictor = the
    block's first sample, uint8 step index, reserved), then the 4-bit
    codes in 4-byte per-channel groups (low nibble first); multi-channel
    payloads mix down to mono by channel mean."""
    min_align = 4 * n_channels
    if block_align < min_align + 4 or block_align % 4:
        raise ValueError("malformed WAV: bad IMA ADPCM block align")
    n_blocks = len(raw) // block_align
    if n_blocks == 0 or len(raw) % block_align:
        raise ValueError("malformed WAV: truncated IMA ADPCM data chunk")
    blocks = np.frombuffer(raw, dtype=np.uint8).reshape(n_blocks, block_align)
    chans = []
    for c in range(n_channels):
        hdr = blocks[:, 4 * c : 4 * c + 4]
        pred0 = hdr[:, 0:2].copy().view("<i2")[:, 0]
        idx0 = hdr[:, 2]
        body = blocks[:, min_align:].reshape(n_blocks, -1, 4)
        mine = body[:, c::n_channels, :].reshape(n_blocks, -1)
        nibbles = np.empty((n_blocks, mine.shape[1] * 2), dtype=np.uint8)
        nibbles[:, 0::2] = mine & 0x0F
        nibbles[:, 1::2] = mine >> 4
        decoded = _ima_decode_nibbles(nibbles, pred0, idx0)
        # the header predictor IS the block's first sample
        full = np.concatenate(
            [pred0.reshape(-1, 1).astype(np.int16), decoded], axis=1
        )
        chans.append(full.reshape(-1).astype(np.float32) / 32768.0)
    wave = np.mean(np.stack(chans, axis=0), axis=0) if n_channels > 1 else chans[0]
    return wave.astype(np.float32)


def audio_struct_col(audio: Column, sample_rate: Column, n_samples: Column) -> Column:
    return F.struct(
        audio.alias("audio"),
        sample_rate.cast("int").alias("sample_rate"),
        n_samples.cast("int").alias("n_samples"),
    )


def video_struct_col(video: Column, n_frames: Column, height: Column, width: Column) -> Column:
    return F.struct(
        video.alias("video"),
        n_frames.cast("int").alias("n_frames"),
        height.cast("int").alias("height"),
        width.cast("int").alias("width"),
    )


# --- decoders (stub + deterministic fake) ---------------------------------

def decode_audio(data: bytes, sample_rate: int) -> np.ndarray:
    """Decode audio bytes → float32 mono waveform in [-1, 1].

    RIFF/WAVE decodes for REAL with no codec library — chunk walk + NumPy
    frombuffer: integer PCM at 8/16/24/32 bits, IEEE float32/float64,
    G.711 μ-law/A-law telephony companding (8-bit, spec lookup tables),
    4-bit IMA and MS ADPCM (block-vectorized expansions, fact-chunk
    truncation), and WAVE_FORMAT_EXTENSIBLE wrappers; multi-channel
    payloads mix down to mono by channel mean. Non-RIFF compressed
    formats (mp3/ogg/flac) raise — wire torchaudio/soundfile/ffmpeg there
    in production; callers are codec-agnostic either way.
    """
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return _wav_pcm_decode(bytes(data), expect_rate=sample_rate)
    raise NotImplementedError(
        "only RIFF/WAVE PCM decodes without a codec; use fake_decode_audio "
        "for synthetic tests or wire soundfile/ffmpeg for compressed formats"
    )


def _wav_pcm_decode(data: bytes, expect_rate: int = 0) -> np.ndarray:
    """Minimal RIFF chunk walk: locate fmt + data, return float32 mono.
    A positive ``expect_rate`` is checked against the fmt chunk's sample
    rate — a mismatch raises rather than silently mis-timing downstream
    frame features."""
    pos, n = 12, len(data)
    fmt = raw = fact = None
    while pos + 8 <= n:
        cid = data[pos : pos + 4]
        size = int.from_bytes(data[pos + 4 : pos + 8], "little")
        if pos + 8 + size > n:
            raise ValueError("malformed WAV: chunk overruns buffer")
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            raw = body
        elif cid == b"fact" and size >= 4:
            fact = int.from_bytes(body[0:4], "little")
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or len(fmt) < 16 or raw is None:
        raise ValueError("malformed WAV: missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format == 0xFFFE:
        # WAVE_FORMAT_EXTENSIBLE: the real format is the first 2 bytes of
        # the 16-byte subformat GUID (1 = PCM, 3 = IEEE float); the
        # container bits stay in fmt[14:16]
        if len(fmt) < 40:
            raise ValueError("malformed WAV: truncated extensible fmt chunk")
        audio_format = int.from_bytes(fmt[24:26], "little")
    if (
        n_channels < 1
        or (audio_format == 1 and bits not in (8, 16, 24, 32))
        or (audio_format == 3 and bits not in (32, 64))
        or (audio_format in (6, 7) and bits != 8)
        or (audio_format in (2, 0x11) and bits != 4)
        or audio_format not in (1, 2, 3, 6, 7, 0x11)
    ):
        raise ValueError(
            "codec-free WAV path supports 8/16/24/32-bit PCM, "
            "float32/float64, 8-bit G.711 A-law/mu-law, and 4-bit "
            "MS/IMA ADPCM only"
        )
    header_rate = int.from_bytes(fmt[4:8], "little")
    if expect_rate and header_rate != expect_rate:
        raise ValueError(
            f"WAV sample rate {header_rate} != expected {expect_rate}"
        )
    if audio_format in (2, 0x11):
        block_align = int.from_bytes(fmt[12:14], "little")
        dec = _ms_adpcm_decode if audio_format == 2 else _ima_adpcm_decode
        wave = dec(raw, n_channels, block_align)
        if fact is not None:
            wave = wave[:fact]
        return wave.astype(np.float32)
    if len(raw) % ((bits // 8) * n_channels):
        raise ValueError("malformed WAV: truncated PCM data chunk")
    if audio_format in (6, 7):
        table = _ALAW_TABLE if audio_format == 6 else _ULAW_TABLE
        wave = (
            table[np.frombuffer(raw, dtype=np.uint8)].astype(np.float32) / 32768.0
        )
    elif audio_format == 3:
        dt = "<f4" if bits == 32 else "<f8"
        wave = np.clip(np.frombuffer(raw, dtype=dt).astype(np.float32), -1.0, 1.0)
    elif bits == 16:
        wave = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
    elif bits == 24:
        b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3).astype(np.int32)
        v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        v -= (v >= (1 << 23)) * (1 << 24)  # sign-extend 24 → 32 bits
        wave = v.astype(np.float32) / float(1 << 23)
    elif bits == 32:
        wave = np.frombuffer(raw, dtype="<i4").astype(np.float32) / float(1 << 31)
    else:
        wave = (np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    if n_channels > 1:
        wave = wave[: len(wave) - len(wave) % n_channels]
        wave = wave.reshape(-1, n_channels).mean(axis=1)
    return wave.astype(np.float32)


def wav_frame_decoder(data: bytes, n_samples: int) -> np.ndarray:
    """Seam-compatible REAL decoder for ``audio_frame_energy`` /
    ``mapInPandas`` operators, whose decoder contract is
    ``(payload, n_samples)``: decodes RIFF/WAVE PCM and ignores the
    declared ``n_samples`` (the waveform's true length governs framing).
    ``decode_audio``'s own second argument is an EXPECTED SAMPLE RATE —
    do not pass it directly as a seam decoder."""
    return _wav_pcm_decode(bytes(data))


def encode_wav_pcm16(wave: np.ndarray, sample_rate: int, n_channels: int = 1) -> bytes:
    """float32 [-1, 1] → RIFF/WAVE 16-bit PCM bytes — the test/fixture twin
    of the codec-free decode path."""
    pcm = np.clip(np.asarray(wave, dtype=np.float32), -1.0, 1.0)
    raw = np.round(pcm * 32767.0).astype("<i2").tobytes()
    block_align = 2 * n_channels
    fmt = (
        (1).to_bytes(2, "little") + n_channels.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * block_align).to_bytes(4, "little")
        + block_align.to_bytes(2, "little") + (16).to_bytes(2, "little")
    )
    body = b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    body += b"data" + len(raw).to_bytes(4, "little") + raw
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def encode_wav(
    wave: np.ndarray,
    sample_rate: int,
    n_channels: int = 1,
    bits: int = 16,
    float_fmt: bool = False,
    extensible: bool = False,
    g711: str | None = None,
) -> bytes:
    """float32 [-1, 1] → RIFF/WAVE bytes in any layout the codec-free
    decoder accepts: integer PCM at 8/16/24/32 bits, IEEE float32/float64
    (``float_fmt=True``), G.711 telephony companding (``g711='ulaw'`` or
    ``'alaw'``, 8-bit), optionally wrapped in a WAVE_FORMAT_EXTENSIBLE
    fmt chunk with the matching subformat GUID — the test/fixture twin of
    ``_wav_pcm_decode``'s full format matrix. The G.711 encoder quantizes
    each sample to the nearest decode-table level (optimal companding, so
    decode∘encode is the nearest-level projection by construction)."""
    w = np.clip(np.asarray(wave, dtype=np.float64), -1.0, 1.0)
    if g711 is not None:
        if g711 not in ("ulaw", "alaw"):
            raise ValueError("g711 must be 'ulaw' or 'alaw'")
        bits = 8
        table = _ULAW_TABLE if g711 == "ulaw" else _ALAW_TABLE
        order = np.argsort(table, kind="stable")
        levels = table[order].astype(np.float64)
        target = w * 32768.0
        idx = np.searchsorted(levels, target)
        idx = np.clip(idx, 1, len(levels) - 1)
        lo, hi = levels[idx - 1], levels[idx]
        pick = np.where(np.abs(target - lo) <= np.abs(target - hi), idx - 1, idx)
        raw = order[pick].astype(np.uint8).tobytes()
        base_format = 7 if g711 == "ulaw" else 6
    elif float_fmt:
        if bits not in (32, 64):
            raise ValueError("float WAV is 32- or 64-bit")
        raw = w.astype("<f4" if bits == 32 else "<f8").tobytes()
        base_format = 3
    elif bits == 8:
        # decoder maps v → (v-128)/128, so encode at scale 128 (clipped)
        raw = (
            np.clip(np.round(w * 128.0) + 128.0, 0, 255).astype(np.uint8).tobytes()
        )
        base_format = 1
    elif bits in (16, 32):
        scale = float((1 << (bits - 1)) - 1)
        raw = np.round(w * scale).astype("<i2" if bits == 16 else "<i4").tobytes()
        base_format = 1
    elif bits == 24:
        v = np.round(w * float((1 << 23) - 1)).astype(np.int32)
        v = np.where(v < 0, v + (1 << 24), v).astype(np.uint32)
        b = np.empty((len(v), 3), np.uint8)
        b[:, 0], b[:, 1], b[:, 2] = v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF
        raw = b.tobytes()
        base_format = 1
    else:
        raise ValueError("integer PCM WAV is 8/16/24/32-bit")
    block_align = (bits // 8) * n_channels
    fmt_tag = 0xFFFE if extensible else base_format
    fmt = (
        fmt_tag.to_bytes(2, "little") + n_channels.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * block_align).to_bytes(4, "little")
        + block_align.to_bytes(2, "little") + bits.to_bytes(2, "little")
    )
    if extensible:
        # KSDATAFORMAT_SUBTYPE_{PCM,IEEE_FLOAT}: {000000xx-0000-0010-8000-
        # 00AA00389B71} serialized GUID-style (LE dword/word/word + raw tail)
        guid = base_format.to_bytes(2, "little") + bytes.fromhex(
            "000000001000800000aa00389b71"
        )
        fmt += (22).to_bytes(2, "little") + bits.to_bytes(2, "little")
        fmt += (0).to_bytes(4, "little") + guid
    body = b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    body += b"data" + len(raw).to_bytes(4, "little") + raw
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def encode_wav_ima_adpcm(
    wave: np.ndarray, sample_rate: int, block_align: int = 256
) -> bytes:
    """float32 [-1, 1] → mono IMA ADPCM WAV bytes (format 0x0011): the
    standard successive-approximation quantizer against the same
    step/index tables the decoder expands with; the step index carries
    across blocks, each block header restates the exact first sample. The
    input is padded to whole blocks and a ``fact`` chunk records the true
    sample count (the decoder truncates to it). Fixture twin of
    ``_ima_adpcm_decode``."""
    w = np.clip(np.asarray(wave, dtype=np.float64), -1.0, 1.0)
    samples = np.round(w * 32767.0).astype(np.int32)
    spb = (block_align - 4) * 2 + 1  # samples per block (mono)
    n_true = len(samples)
    pad = (-len(samples)) % spb
    if pad:
        samples = np.concatenate([samples, np.zeros(pad, dtype=np.int32)])
    idx = 0
    blocks = []
    for b0 in range(0, len(samples), spb):
        block = samples[b0 : b0 + spb]
        pred = int(block[0])
        out = bytearray(
            int(pred & 0xFFFF).to_bytes(2, "little") + bytes([idx, 0])
        )
        nibbles = []
        for s in block[1:]:
            step = int(_IMA_STEPS[idx])
            diff = int(s) - pred
            code = 8 if diff < 0 else 0
            diff = abs(diff)
            if diff >= step:
                code |= 4
                diff -= step
            if diff >= step >> 1:
                code |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                code |= 1
            # decode-update with the SAME kernel so encoder state tracks
            # the decoder exactly
            vpdiff = (step >> 3) + (step if code & 4 else 0)
            vpdiff += (step >> 1) if code & 2 else 0
            vpdiff += (step >> 2) if code & 1 else 0
            pred = max(-32768, min(32767, pred - vpdiff if code & 8 else pred + vpdiff))
            idx = max(0, min(88, idx + int(_IMA_INDEX[code])))
            nibbles.append(code)
        for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
            out.append(lo | (hi << 4))
        blocks.append(bytes(out))
    raw = b"".join(blocks)
    spb_bytes = spb.to_bytes(2, "little")
    fmt = (
        (0x11).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * block_align // spb).to_bytes(4, "little")
        + block_align.to_bytes(2, "little") + (4).to_bytes(2, "little")
        + (2).to_bytes(2, "little") + spb_bytes  # cbSize=2, wSamplesPerBlock
    )
    body = b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    body += b"fact" + (4).to_bytes(4, "little") + n_true.to_bytes(4, "little")
    body += b"data" + len(raw).to_bytes(4, "little") + raw
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def encode_wav_ms_adpcm(
    wave: np.ndarray, sample_rate: int, block_align: int = 256
) -> bytes:
    """float32 [-1, 1] → mono MS ADPCM WAV bytes (format 0x0002): per
    block, pick the standard predictor with the smallest error over the
    block (the spec's suggested selection), seed idelta from the early
    residuals, quantize each sample's residual to a signed nibble, and
    track state with the decoder's own update rule. Fixture twin of
    ``_ms_adpcm_decode``; the fmt chunk carries the standard 7-coefficient
    table and wSamplesPerBlock, plus a fact chunk for truncation."""
    w = np.clip(np.asarray(wave, dtype=np.float64), -1.0, 1.0)
    samples = np.round(w * 32767.0).astype(np.int64)
    spb = (block_align - 7) * 2 + 2  # samples per block (mono)
    n_true = len(samples)
    pad = (-len(samples)) % spb
    if pad:
        samples = np.concatenate([samples, np.zeros(pad, dtype=np.int64)])
    blocks = []
    for b0 in range(0, len(samples), spb):
        block = samples[b0 : b0 + spb]
        s2, s1 = int(block[0]), int(block[1])
        # predictor choice: smallest sum |residual| over the block
        best, best_err = 0, None
        for p, (c1, c2) in enumerate(_MS_COEFS):
            a, b = s1, s2
            err = 0
            for s in block[2:]:
                pred = (a * int(c1) + b * int(c2)) >> 8
                err += abs(int(s) - pred)
                b, a = a, int(s)
            if best_err is None or err < best_err:
                best, best_err = p, err
        c1, c2 = (int(x) for x in _MS_COEFS[best])
        resid = [
            abs(int(block[i]) - (((int(block[i - 1]) * c1 + int(block[i - 2]) * c2)) >> 8))
            for i in range(2, min(len(block), 10))
        ]
        delta = max(16, (max(resid) if resid else 16) // 7)
        out = bytearray([best])
        out += int(delta & 0xFFFF).to_bytes(2, "little")
        out += int(s1 & 0xFFFF).to_bytes(2, "little")
        out += int(s2 & 0xFFFF).to_bytes(2, "little")
        nibbles = []
        for s in block[2:]:
            pred = (s1 * c1 + s2 * c2) >> 8
            n = int(np.clip(round((int(s) - pred) / delta), -8, 7))
            nibbles.append(n & 0x0F)
            sample = int(np.clip(pred + n * delta, -32768, 32767))
            s2, s1 = s1, sample
            delta = max(16, (int(_MS_ADAPT[n & 0x0F]) * delta) >> 8)
        for hi, lo in zip(nibbles[0::2], nibbles[1::2]):
            out.append((hi << 4) | lo)
        blocks.append(bytes(out))
    raw = b"".join(blocks)
    extra = (
        spb.to_bytes(2, "little") + (7).to_bytes(2, "little")
        + b"".join(
            int(c & 0xFFFF).to_bytes(2, "little") for pair in _MS_COEFS for c in pair
        )
    )
    fmt = (
        (2).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * block_align // spb).to_bytes(4, "little")
        + block_align.to_bytes(2, "little") + (4).to_bytes(2, "little")
        + len(extra).to_bytes(2, "little") + extra
    )
    body = b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    body += b"fact" + (4).to_bytes(4, "little") + n_true.to_bytes(4, "little")
    body += b"data" + len(raw).to_bytes(4, "little") + raw
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def fake_decode_audio(data: bytes, n_samples: int) -> np.ndarray:
    """Deterministic stand-in: tile payload bytes into a float32 waveform in
    [-1, 1). Pure function of the bytes — reproducible tests."""
    buf = np.frombuffer(data, dtype=np.uint8)
    if buf.size == 0:
        buf = np.zeros(1, dtype=np.uint8)
    wave = np.resize(buf, max(n_samples, 1)).astype(np.float32)
    return (wave - 128.0) / 128.0


def decode_video_frames(data: bytes, n_frames: int, height: int, width: int) -> np.ndarray:
    """Decode video bytes → (n_frames, H, W, C=1) uint8. STUB, as above."""
    raise NotImplementedError(
        "no video codec in this environment; use fake_decode_video for tests "
        "or wire PyAV/ffmpeg in production"
    )


def fake_decode_video(data: bytes, n_frames: int, height: int, width: int) -> np.ndarray:
    """Deterministic stand-in: tile bytes into (n_frames, H, W, 1) uint8."""
    buf = np.frombuffer(data, dtype=np.uint8)
    if buf.size == 0:
        buf = np.zeros(1, dtype=np.uint8)
    need = max(n_frames, 1) * height * width
    return np.resize(buf, need).reshape(max(n_frames, 1), height, width, 1)


# --- operators (mapInPandas, Arrow-batched) -------------------------------

def audio_frame_energy(
    df: DataFrame,
    audio_col: str = "audio_meta",
    id_col: str = "id",
    frame_len: int = 256,
    n_frames: int = 16,
    decoder=fake_decode_audio,
) -> DataFrame:
    """Per-clip frame-energy feature vector: decode → frame the waveform →
    RMS per frame → ``array<float>`` of length ``n_frames``.

    Output: ``(id, energy: array<float>, sample_rate: int)``. This is the
    audio twin of image feature extraction — the plumbing a real
    MFCC/fbank featurizer drops into.
    """

    def run(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            ids, feats, rates = [], [], []
            # zip over the two columns, not iterrows: iterrows boxes every
            # row into a dtype-object Series, the slowest per-row pandas
            # path — the decode should be the only per-row Python cost
            for rid, meta in zip(pdf[id_col], pdf[audio_col]):
                wave = decoder(bytes(meta["audio"]), int(meta["n_samples"]))
                need = frame_len * n_frames
                # zero-pad short clips (and truncate long ones) — the same
                # contract as the log-mel front end below: np.resize TILED
                # the clip, so trailing frames of a short clip reported
                # energy recycled from its start (r10 ADVICE defect class,
                # fixed on the log-mel path first)
                w = wave.astype(np.float64)[:need]
                if w.size < need:
                    w = np.pad(w, (0, need - w.size))
                w = w.reshape(n_frames, frame_len)
                rms = np.sqrt((w * w).mean(axis=1)).astype(np.float32)
                ids.append(rid)
                feats.append(rms)
                rates.append(int(meta["sample_rate"]))
            yield pd.DataFrame({"id": ids, "energy": feats, "sample_rate": rates})

    return df.mapInPandas(run, "id long, energy array<float>, sample_rate int")


def _mel_filterbank(
    n_mels: int, n_fft: int, sample_rate: float, fmin: float = 0.0
) -> np.ndarray:
    """Triangular mel filterbank (HTK mel scale, 2595·log10(1+f/700)) —
    (n_mels, n_fft//2 + 1), rows normalized to unit peak. Pure NumPy,
    deterministic: plan-literal math, no library."""
    fmax = sample_rate / 2.0
    mel = lambda f: 2595.0 * np.log10(1.0 + f / 700.0)  # noqa: E731
    imel = lambda m: 700.0 * (10.0 ** (m / 2595.0) - 1.0)  # noqa: E731
    pts = imel(np.linspace(mel(fmin), mel(fmax), n_mels + 2))
    bins = np.fft.rfftfreq(n_fft, d=1.0 / sample_rate)
    fb = np.zeros((n_mels, len(bins)), dtype=np.float64)
    for m in range(n_mels):
        lo, ctr, hi = pts[m], pts[m + 1], pts[m + 2]
        up = (bins - lo) / max(ctr - lo, 1e-12)
        down = (hi - bins) / max(hi - ctr, 1e-12)
        tri = np.clip(np.minimum(up, down), 0.0, 1.0)
        peak = tri.max()
        if peak <= 0:
            raise ValueError(
                "degenerate mel filterbank: a band covers no FFT bin "
                "(raise frame_len or lower n_mels)"
            )
        fb[m] = tri / peak  # discrete peak normalized to exactly 1
    return fb


def audio_logmel_frames(
    df: DataFrame,
    audio_col: str = "audio_meta",
    id_col: str = "id",
    frame_len: int = 256,
    hop: int = 128,
    n_frames: int = 16,
    n_mels: int = 8,
    decoder=fake_decode_audio,
) -> DataFrame:
    """Per-clip log-mel spectrogram features — the fbank front end speech
    models actually train on, as a distributed column operator: decode →
    Hann-windowed overlapping frames → |rfft|² power → mel filterbank →
    log. One output row per clip with a FLATTENED (n_frames × n_mels)
    ``array<float>`` (scalar-array output keeps the row driver- and
    oracle-canonicalizable, like ``event_sequences``' scalar context).

    Scale posture: identical to ``audio_frame_energy`` — one linear
    ``mapInPandas`` pass, no shuffle, payload bytes stay in Arrow; the
    FFT work is NumPy-vectorized across all frames of a clip at once.
    The mel filterbank depends only on (n_mels, frame_len, sample_rate)
    and is cached per batch, not rebuilt per row.
    """

    def run(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        window = np.hanning(frame_len).astype(np.float64)
        fbs: dict[int, np.ndarray] = {}
        for pdf in pdfs:
            ids, feats, rates = [], [], []
            for rid, meta in zip(pdf[id_col], pdf[audio_col]):
                wave = decoder(bytes(meta["audio"]), int(meta["n_samples"]))
                rate = int(meta["sample_rate"])
                logmel = logmel_matrix(
                    wave, rate, frame_len, hop, n_frames, n_mels, window, fbs
                )
                ids.append(rid)
                feats.append(logmel.reshape(-1).astype(np.float32))
                rates.append(rate)
            yield pd.DataFrame(
                {"id": ids, "logmel": feats, "sample_rate": rates}
            )

    return df.mapInPandas(run, "id long, logmel array<float>, sample_rate int")


def logmel_matrix(
    wave: np.ndarray,
    rate: int,
    frame_len: int,
    hop: int,
    n_frames: int,
    n_mels: int,
    window: np.ndarray,
    fbs: dict[int, np.ndarray],
) -> np.ndarray:
    """One clip's (n_frames, n_mels) log-mel matrix — the shared front-end
    core of ``audio_logmel_frames`` and ``audio_spectral_fingerprint``.
    Short clips are ZERO-padded (conventional speech front-end behavior:
    trailing frames are silence, not recycled audio); long clips analyze
    their first ``hop·(n_frames−1) + frame_len`` samples. ``fbs`` caches
    the per-rate mel filterbank across a batch."""
    need = hop * (n_frames - 1) + frame_len
    w = wave.astype(np.float64)[:need]
    if w.size < need:
        w = np.pad(w, (0, need - w.size))
    idx = np.arange(frame_len)[None, :] + hop * np.arange(n_frames)[:, None]
    frames = w[idx] * window[None, :]
    power = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    if rate not in fbs:
        fbs[rate] = _mel_filterbank(n_mels, frame_len, float(rate))
    return np.log(power @ fbs[rate].T + 1e-10)


def _spectral_fp_bands(
    wave: np.ndarray,
    rate: int,
    frame_len: int,
    hop: int,
    window: np.ndarray,
    fbs: dict,
    weights: np.ndarray,
) -> tuple[int, int, int, int]:
    """One clip's spectral fingerprint as the four 16-bit bands — the
    per-row core shared by ``audio_spectral_fingerprint`` and the fused
    planted-family pass so the two cannot drift."""
    lm = logmel_matrix(wave, rate, frame_len, hop, 9, 8, window, fbs)
    bits = (lm[1:] > lm[:-1]).astype(np.int64)  # (8, 8)
    rowvals = (bits * weights).sum(axis=1)
    return tuple(int(rowvals[2 * k] + rowvals[2 * k + 1]) for k in range(4))


def audio_spectral_fingerprint(
    df: DataFrame,
    audio_col: str = "audio_meta",
    id_col: str = "id",
    frame_len: int = 256,
    hop: int = 128,
    decoder=fake_decode_audio,
) -> DataFrame:
    """Per-clip 64-bit spectral fingerprint as four 16-bit band columns
    ``(id, b0, b1, b2, b3)`` — the AUDIO member of the perceptual-dedup
    family, shaped to feed the shared band machinery
    (``multimodal.imagehash.near_dup_band_pairs``: banding candidates,
    hot-band cap, Hamming filter).

    Construction (the Chromaprint/Shazam family's core idea, minimal
    form): 9 log-mel frames × 8 mel bands via the r10 front end, then
    bit(t, m) = logmel[t+1, m] > logmel[t, m] — the TEMPORAL energy
    gradient per band. A constant gain g scales power by g², adding
    log(g²) to every cell; the frame-to-frame difference cancels it, so
    the fingerprint is level-invariant by construction (tested), and
    lossy re-encodes (µ-law, ADPCM) perturb cells by far less than
    typical inter-frame contrast. Band k packs gradient rows 2k, 2k+1 in
    the imagehash bit layout.

    One linear ``mapInPandas`` pass; bytes never shuffle."""

    def run(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        window = np.hanning(frame_len).astype(np.float64)
        weights = 1 << (
            np.arange(8)[None, :] + (np.arange(8)[:, None] % 2) * 8
        )
        fbs: dict[int, np.ndarray] = {}
        for pdf in pdfs:
            ids, cols = [], [[], [], [], []]
            for rid, meta in zip(pdf[id_col], pdf[audio_col]):
                wave = decoder(bytes(meta["audio"]), int(meta["n_samples"]))
                rate = int(meta["sample_rate"])
                bands = _spectral_fp_bands(
                    wave, rate, frame_len, hop, window, fbs, weights
                )
                ids.append(rid)
                for k in range(4):
                    cols[k].append(bands[k])
            yield pd.DataFrame(
                {
                    "id": ids,
                    "b0": cols[0],
                    "b1": cols[1],
                    "b2": cols[2],
                    "b3": cols[3],
                }
            )

    return df.mapInPandas(run, "id long, b0 long, b1 long, b2 long, b3 long")


def video_sample_frames(
    df: DataFrame,
    video_col: str = "video_meta",
    id_col: str = "id",
    k: int = 4,
    decoder=fake_decode_video,
) -> DataFrame:
    """Uniform frame sampling: decode → pick ``k`` evenly-spaced frames →
    one output row PER FRAME with the frame bytes + dims (explode-shaped, so
    downstream image operators apply unchanged).

    Output: ``(id, frame_idx, frame: binary, height, width)``.
    """

    def run(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            ids, idxs, frames, hs, ws = [], [], [], [], []
            for rid, meta in zip(pdf[id_col], pdf[video_col]):
                nf, h, w = int(meta["n_frames"]), int(meta["height"]), int(meta["width"])
                clip = decoder(bytes(meta["video"]), nf, h, w)
                if clip.shape[0] == 0:
                    # empty/corrupt clip from a contract-honoring decoder:
                    # emit no frame rows (the fake decoder pads to 1 frame,
                    # but a real PyAV/ffmpeg seam may return (0,H,W,C))
                    continue
                pick = np.linspace(
                    0, clip.shape[0] - 1, num=min(k, clip.shape[0]), dtype=np.int64
                )
                for fi in pick:
                    ids.append(rid)
                    idxs.append(int(fi))
                    frames.append(clip[fi].tobytes())
                    hs.append(h)
                    ws.append(w)
            yield pd.DataFrame(
                {"id": ids, "frame_idx": idxs, "frame": frames, "height": hs, "width": ws}
            )

    return df.mapInPandas(run, "id long, frame_idx int, frame binary, height int, width int")


def synthetic_tone_clip(seed: int, n: int = 1400, sr: int = 8000) -> np.ndarray:
    """Deterministic 4-segment CHIRP sequence for a given seed — the audio
    fixture generator shared by the fingerprint tests and the declared
    invariance query (per-doc clips seeded by doc_id). Chirps, not steady
    tones: a steady tone makes consecutive frames spectrally identical,
    so the temporal-gradient fingerprint bits sit at coin-flip ties that
    any quantization noise flips (measured µ-law drift up to 11 bits on
    steady tones vs ≤ a few on chirps) — sweeping frequency keeps every
    gradient cell decisively nonzero, like real audio. Parameters come
    from a PCG64 stream, whose output is version-stable by NumPy's
    compatibility policy; the invariance query is additionally
    SELF-relative (both encodings share one waveform), so its result does
    not depend on the stream at all."""
    rng = np.random.default_rng(seed)
    t = np.arange(n) / sr
    w = np.zeros(n)
    for s in range(4):
        f0 = rng.uniform(200.0, 2000.0)
        f1 = f0 * rng.uniform(1.5, 2.0)
        a = rng.uniform(0.3, 0.8)
        seg = slice(s * n // 4, (s + 1) * n // 4)
        ts = t[seg] - t[seg][0]
        dur = max(len(ts) / sr, 1e-9)
        # linear chirp: phase = 2π(f0·τ + (f1−f0)/(2·dur)·τ²)
        w[seg] = a * np.sin(2 * np.pi * (f0 * ts + (f1 - f0) / (2 * dur) * ts * ts))
    return w.astype(np.float32)


def audio_fingerprint_invariance(spark, sf_dir: str) -> DataFrame:
    """Declared query (✔oracle, the consistency pattern): prove the
    spectral fingerprint is robust to lossy re-encoding on REAL encoded
    bytes — per document, synthesize a deterministic tone clip, encode it
    BOTH as 16-bit PCM and as G.711 µ-law, run the full
    decode → log-mel → gradient-fingerprint path on each, and emit one
    row: clip count plus a boolean asserting the DISTRIBUTIONAL claim
    ≥ 99% of clips drift ≤ 6 of 64 bits AND the mean drift is ≤ 1.5.
    Distributional, not max: a per-clip maximum is an extreme-value
    statistic whose tail GROWS with corpus size (measured: max 6 over
    the 500-clip sf0.01 family but 12 over the 5000-clip sf0.1 family —
    caught by the 10×-scale rehearsal), while the shares are stable
    (sf0.01: 100% ≤ 6, mean 0.51; sf0.1: 99.76% ≤ 6, mean 0.55 — µ-law's
    8-bit companding perturbs log-mel cells far less than the chirps'
    inter-frame contrast). The oracle is the document count and TRUE.
    ADPCM is deliberately OUT of the claim: its adaptive quantizer
    smears segment transients (measured up to 18 bits) — level-scaling
    and µ-law are the invariances the construction guarantees.

    Scale posture: one metadata-pruned documents scan (doc_id only), one
    linear synth+encode pass, two linear fingerprint passes, an id
    equi-join of two 5-column tables, one agg."""
    from caffeonspark_spark.catalog import load_table
    from caffeonspark_spark.engine import scale_out

    # r16 (guide §1.2): synth + dual-encode + two fingerprint passes are
    # all per-row compute chained map-side onto the doc_id scan — a
    # single-row-group local scan serialized the whole row's work onto
    # ONE task (profiled: two 1.65 s single-task fingerprint stages at
    # sf0.1). Rebalance the 8-byte ids before the heavy lifting;
    # per-row outputs are seeded by doc_id, so partitioning cannot
    # change any value. No-op on a real multi-split scan.
    docs = scale_out(load_table(spark, sf_dir, "documents").select("doc_id"))

    def gen(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            ids, pcm, ulaw, ns = [], [], [], []
            for did in pdf["doc_id"]:
                w = synthetic_tone_clip(int(did))
                ids.append(int(did))
                pcm.append(encode_wav_pcm16(w, 8000))
                ulaw.append(encode_wav(w, 8000, g711="ulaw"))
                ns.append(len(w))
            yield pd.DataFrame(
                {"id": ids, "pcm": pcm, "ulaw": ulaw, "ns": ns}
            )

    from caffeonspark_spark.engine import pin

    # both fingerprint sides read the clip table; without the pin the
    # synth + dual-encode subtree executes once PER SIDE —
    # measured ~2x the row's whole work
    clips = pin(
        docs.mapInPandas(gen, "id long, pcm binary, ulaw binary, ns int"),
        # narrow=False: both decode->log-mel fingerprint passes run
        # MAP-SIDE over this pin — its read width is their parallelism
        narrow=False,
    )
    sr = F.lit(8000)
    fa = audio_spectral_fingerprint(
        clips.select(
            "id", audio_struct_col(F.col("pcm"), sr, F.col("ns")).alias("audio_meta")
        ),
        decoder=wav_frame_decoder,
    )
    fb = audio_spectral_fingerprint(
        clips.select(
            "id", audio_struct_col(F.col("ulaw"), sr, F.col("ns")).alias("audio_meta")
        ),
        decoder=wav_frame_decoder,
    )
    from caffeonspark_spark.multimodal.imagehash import band_hamming

    a = fa.select(*[F.col(c).alias(f"a_{c}") for c in fa.columns])
    b = fb.select(*[F.col(c).alias(f"b_{c}") for c in fb.columns])
    ham = band_hamming()
    joined = a.join(b, a.a_id == b.b_id)
    n = F.count(F.lit(1))
    within = F.sum(F.when(ham <= 6, 1).otherwise(0))
    return joined.agg(
        n.cast("long").alias("n_clips"),
        (
            (F.coalesce(within, F.lit(0)) * 100 >= n * 99)
            & (F.coalesce(F.sum(ham), F.lit(0)) * 2 <= n * 3)  # mean ≤ 1.5
        ).alias("encode_invariant"),
    )


ORACLE_AUDIO_FP_INVARIANCE = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_clips, TRUE AS encode_invariant
    FROM documents
"""


def video_frame_hashes(
    frames_df: DataFrame,
    id_col: str = "id",
    frame_col: str = "frame_idx",
) -> DataFrame:
    """Per-sampled-frame perceptual hash: ``video_sample_frames`` output
    (raw HWC frame bytes + dims) → gray → area-resize → dHash, emitted as
    ``(id, frame_idx, b0..b3)`` — the video member of the perceptual-dedup
    family, composed from the image tier (``multimodal.imagehash``). One
    linear ``mapInPandas`` pass; channel count is inferred from the
    byte length (a real PyAV seam may emit gray or BGR frames)."""
    from caffeonspark_spark.multimodal.imagehash import (
        dhash_bands,
        resize_area,
        to_gray,
    )

    def run(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            ids, idxs, cols = [], [], [[], [], [], []]
            for rid, fi, raw, h, w in zip(
                pdf[id_col], pdf[frame_col], pdf["frame"],
                pdf["height"], pdf["width"],
            ):
                data = bytes(raw)
                h, w = int(h), int(w)
                if h <= 0 or w <= 0:
                    raise ValueError(
                        f"degenerate frame dims {h}x{w} (decoder contract)"
                    )
                c = len(data) // (h * w)
                if c not in (1, 3) or len(data) != h * w * c:
                    raise ValueError(
                        "frame byte length does not match dims (expected "
                        f"H*W*{{1,3}}, got {len(data)} for {h}x{w})"
                    )
                arr = np.frombuffer(data, np.uint8).reshape(h, w, c)
                bands = dhash_bands(resize_area(to_gray(arr), 8, 9))
                ids.append(rid)
                idxs.append(int(fi))
                for k in range(4):
                    cols[k].append(bands[k])
            yield pd.DataFrame(
                {
                    "id": ids, "frame_idx": idxs,
                    "b0": cols[0], "b1": cols[1],
                    "b2": cols[2], "b3": cols[3],
                }
            )

    return frames_df.mapInPandas(
        run, "id long, frame_idx int, b0 long, b1 long, b2 long, b3 long"
    )


def _position_pair_phase(
    ha: DataFrame,
    hb: DataFrame,
    out_a: str,
    out_b: str,
    max_hamming: int,
    max_band_df: int,
    min_frames: int,
    self_pairs: bool,
) -> DataFrame:
    """THE position-keyed pair phase, shared by the self-join
    (``near_dup_video_pairs``) and bipartite
    (``video_dedup_against_corpus``) forms — the r13 queued review item:
    until r14 the two carried hand-synced copies of this block. Stages,
    over prepared ``(id, fi, b0..b3)`` hash tables:

    1. posexplode each side into long ``(id, fi, k, band)`` rows, each
       carrying the frame's full hash as ONE packed long
       (``imagehash.packed_bands``);
    2. hot cap per ``(fi, k, band)`` computed on the ``hb`` side (the one
       table itself for the self-join; the CORPUS — the side big enough
       to have degenerate positions — for the bipartite form), applied to
       the ``ha`` side before the candidate join;
    3. candidate equi-join on ``(fi, k, band)`` (+ ``a.id < b.id`` when
       ``self_pairs``, the half-triangle dedup; the bipartite form keeps
       new×ref only by construction);
    4. per-position Hamming ≤ ``max_hamming`` computed INLINE on the
       candidate join output via the packed hashes (r16: the two
       frame-hash re-attach joins — 4 Exchanges — are gone; +8 B per
       exploded band row), then distinct per (pair, position);
    5. the clip gate: a pair emits iff ≥ ``min_frames`` positions match.

    Both inputs must already be persisted (they feed the cap agg and a
    candidate side each) — the callers own that via ``engine.pin``."""
    from caffeonspark_spark.multimodal.imagehash import (
        packed_bands,
        packed_hamming,
    )

    def bands(t: DataFrame) -> DataFrame:
        return t.select(
            "id", "fi",
            packed_bands().alias("h"),
            F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("k", "band"),
        )

    ok = (
        bands(hb).groupBy("fi", "k", "band")
        .count()
        .where(F.col("count") <= max_band_df)
        .drop("count")
    )
    cond = (
        (F.col("a.fi") == F.col("b.fi"))
        & (F.col("a.k") == F.col("b.k"))
        & (F.col("a.band") == F.col("b.band"))
    )
    if self_pairs:
        cond = cond & (F.col("a.id") < F.col("b.id"))
    matched = (
        bands(ha).join(ok, ["fi", "k", "band"])
        .alias("a")
        .join(bands(hb).alias("b"), cond)
        .where(packed_hamming(F.col("a.h"), F.col("b.h")) <= max_hamming)
        .select(
            F.col("a.id").alias(out_a),
            F.col("b.id").alias(out_b),
            F.col("a.fi").alias("fi"),
        )
        .distinct()
    )
    return (
        matched.groupBy(out_a, out_b)
        .agg(F.count(F.lit(1)).cast("long").alias("n_frames_matched"))
        .where(F.col("n_frames_matched") >= min_frames)
    )


def near_dup_video_pairs(
    frame_hashes: DataFrame,
    id_col: str = "id",
    frame_col: str = "frame_idx",
    max_hamming: int = _PORTABLE_MAX_HAMMING,
    max_band_df: int = _PORTABLE_BAND_CAP,
    min_frames: int = 3,
) -> DataFrame:
    """Near-duplicate video pairs from per-frame hash bands: the image
    band machinery keyed additionally by FRAME POSITION — candidates are
    (frame_idx, k, band) bucket collisions (two clips only collide where
    the same sampled position looks alike, so a shared intro frame can't
    pair unrelated clips by itself), per-position Hamming ≤
    ``max_hamming`` counts as a matching position, and a pair emits iff
    ≥ ``min_frames`` positions match. Output
    ``(id_a, id_b, n_frames_matched)``.

    Scale contract: identical to ``near_dup_band_pairs`` with frame_idx
    widening the bucket key (hot-band cap per position); the final agg
    is one shuffle of candidate-pair rows. The hash table feeds FIVE plan
    subtrees (hot-cap agg, both candidate sides, both Hamming sides), so
    it is cached with ``engine.pin`` — mirroring ``near_dup_band_pairs``
    — or the upstream decode→hash ``mapInPandas`` pass would recompute
    once per subtree; released by ``engine.unpersist_cached()``. The pair phase itself is the shared
    ``_position_pair_phase`` (self-join form)."""
    from caffeonspark_spark.engine import pin

    ha = pin(
        frame_hashes.select(
            F.col(id_col).alias("id"),
            F.col(frame_col).alias("fi"),
            "b0", "b1", "b2", "b3",
        ),
    )
    return _position_pair_phase(
        ha, ha, "id_a", "id_b",
        max_hamming, max_band_df, min_frames, self_pairs=True,
    )


def video_dedup_against_corpus(
    new_frames: DataFrame,
    corpus_frames: DataFrame,
    id_col: str = "id",
    frame_col: str = "frame_idx",
    max_hamming: int = _PORTABLE_MAX_HAMMING,
    max_band_df: int = _PORTABLE_BAND_CAP,
    min_frames: int = 3,
) -> DataFrame:
    """Bipartite video near-dup: NEW clips against a kept REFERENCE
    corpus — ``image_dedup_against_corpus``'s incremental-ingest shape
    with ``near_dup_video_pairs``' position-keyed key (the generic band
    form can't express the ≥ ``min_frames`` clip gate). Returns
    ``(new_id, ref_id, n_frames_matched)``.

    Scale contract: the corpus frame-hash table is the materialize-once
    artifact (4 smallints × positions per clip) reused per ingest batch;
    candidates are CROSS-side (fi, k, band) collisions only — the join
    keeps new×ref, never ref×ref — and the per-position hot cap is
    computed on the CORPUS side (the side big enough to have degenerate
    positions: black intro frames, test cards).

    The pair phase is the shared ``_position_pair_phase`` (bipartite
    form: no half-triangle predicate, hot cap on the corpus side) — the
    r13 sync note is retired."""
    from caffeonspark_spark.engine import pin

    def prep(t: DataFrame) -> DataFrame:
        return pin(
            t.select(
                F.col(id_col).alias("id"),
                F.col(frame_col).alias("fi"),
                "b0", "b1", "b2", "b3",
            ),
        )

    hn = prep(new_frames)
    hr = prep(corpus_frames)
    return _position_pair_phase(
        hn, hr, "new_id", "ref_id",
        max_hamming, max_band_df, min_frames, self_pairs=False,
    )


def video_dedup_map(
    frame_hashes: DataFrame,
    id_col: str = "id",
    frame_col: str = "frame_idx",
    max_hamming: int = _PORTABLE_MAX_HAMMING,
    max_band_df: int = _PORTABLE_BAND_CAP,
    min_frames: int = 3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Total clip-level canonical map ``(id, keep_id)`` — the
    ``image_dedup`` composition for the VIDEO modality, which cannot use
    that generic band-table form directly: the clip gate (≥ ``min_frames``
    matched positions) lives in ``near_dup_video_pairs``' position-keyed
    pair phase, and the exact pass must group on the CONCATENATED
    per-position hash sequence, not one row's bands.

    Stages (clean_corpus's staging on clips):

    1. **exact pass** — group clips on the full ordered frame-hash
       sequence (array_agg sorted by position); byte-identical re-uploads
       collapse to the min-id representative before banding;
    2. **near pass** — the position-keyed banded pair phase over the
       exact survivors' frame hashes only;
    3. **clusters + total map** — components over the pair set, every
       input id mapped to the min id of its merged exact+near cluster
       (``keep_id == id`` marks survivors; row count equals clip count).

    Scale contract: the exact group moves (id, 4·n_frames smallints) —
    never frames; the near pass runs on one clip per DISTINCT sequence;
    the final map is two 8-byte-key equi-joins."""
    from caffeonspark_spark.engine import pin
    from caffeonspark_spark.operators.dedup import connected_components

    ha = pin(
        frame_hashes.select(
            F.col(id_col).alias("id"),
            F.col(frame_col).alias("fi"),
            "b0", "b1", "b2", "b3",
        ),
    )
    seq = ha.groupBy("id").agg(
        F.array_sort(
            F.collect_list(F.struct("fi", "b0", "b1", "b2", "b3"))
        ).alias("_seq")
    )
    exact_keep = pin(
        seq.groupBy("_seq").agg(F.min("id").alias("rep")),
    )
    exact_map = seq.join(exact_keep, "_seq").select("id", "rep")
    survivors = ha.join(
        exact_keep.select(F.col("rep").alias("id")), "id"
    )
    pairs = near_dup_video_pairs(
        survivors,
        frame_col="fi",
        max_hamming=max_hamming,
        max_band_df=max_band_df,
        min_frames=min_frames,
    )
    comp = connected_components(
        pairs.select("id_a", "id_b"), checkpoint_dir=checkpoint_dir
    ).withColumnRenamed("node", "rep")
    rep_keep = exact_keep.select("rep").join(comp, "rep", "left").select(
        "rep", F.coalesce("component", F.col("rep")).alias("keep_id")
    )
    return exact_map.join(rep_keep, "rep").select("id", "keep_id")


# --- declared video near-dup queries (the image portable/native pattern) ----

#: portable clip geometry: 4 sampled positions per document-clip, frame fi's
#: pixel rows derive from the text window starting at fi*_V_STRIDE — windows
#: OVERLAP (stride 64 < frame span 8*16=128) because the documents table's
#: texts average ~300 chars; near-dup families sharing a prefix then match
#: at the early positions and diverge at the late ones, giving a graded
#: n_frames_matched spectrum like real re-encoded clips.
_V_FRAMES = 4
_V_STRIDE = 64
_V_CHUNK = 16
#: clip gate of the DECLARED portable/map queries (>= 2 matched
#: positions) — interpolated into the video oracles below
_V_MIN_FRAMES_PORTABLE = 2
_V_REP = 4  # native render: each hash pixel replicated 4x4


def portable_video_frame_hashes(spark, sf_dir: str) -> DataFrame:
    """(id, fi, b0..b3) per-frame dHash bands from text-derived pixel
    matrices: document doc_id is a clip, frame ``fi``'s row ``i`` seeds
    from the 16-char window at ``fi*64 + i*16`` via the portable char
    fold, pixels and bands exactly as ``imagehash.portable_image_bands``
    (same staging discipline: fold once into a real column, never inline
    it into the 64 bit expressions). One explode to _V_FRAMES rows per
    doc, no shuffle."""
    from caffeonspark_spark.catalog import load_table

    return portable_video_frame_hashes_df(load_table(spark, sf_dir, "documents"))


def portable_video_frame_hashes_df(docs: DataFrame) -> DataFrame:
    """``portable_video_frame_hashes`` over an explicit documents frame —
    lets declared queries hash a SUBSET (the corpus/batch split of
    ``video_dedup_against_corpus_query``) with identical arithmetic."""
    from caffeonspark_spark.engine import scale_out
    from caffeonspark_spark.multimodal.imagehash import (
        _chunk_fold,
        portable_image_bands,
    )

    # r16 (guide §1.2/§2.5): rebalance the narrow (id, text) rows before
    # the x16 frame explode + fold — a single-split scan serializes the
    # whole family's per-row work onto one task; no-op on multi-split
    # scans, values are per-row functions so partitioning is invisible.
    docs = scale_out(docs.select("doc_id", "text"))
    frames = docs.select(
        F.col("doc_id").alias("id"),
        "text",
        F.explode(
            F.sequence(F.lit(0), F.lit(_V_FRAMES - 1))
        ).alias("fi"),
    )
    chunked = frames.select(
        "id",
        "fi",
        *[
            F.col("text")
            .substr(
                F.col("fi") * F.lit(_V_STRIDE) + F.lit(i * _V_CHUNK + 1),
                F.lit(_V_CHUNK),
            )
            .alias(f"c{i}")
            for i in range(8)
        ],
    )
    seeded = chunked.select(
        "id", "fi", *[_chunk_fold(F.col(f"c{i}")).alias(f"r{i}") for i in range(8)]
    )
    return seeded.select(
        "id",
        F.col("fi").cast("int").alias("fi"),
        *portable_image_bands([f"r{i}" for i in range(8)]),
    )


def video_dup_pairs_portable(spark, sf_dir: str) -> DataFrame:
    """Declared query (✔oracle): near-duplicate CLIP pairs — the full
    position-keyed banding + per-frame Hamming + matched-frame gate over
    portable text-derived frame matrices, verifying every relational stage
    of the video dedup (frame explode, per-position hot cap, bucket join,
    distinct, Hamming, the >= min_frames clip gate) against DuckDB
    exactly. Output ``(id_a, id_b, n_frames_matched)``."""
    return near_dup_video_pairs(
        portable_video_frame_hashes(spark, sf_dir),
        frame_col="fi",
        min_frames=_V_MIN_FRAMES_PORTABLE,
    )


def _video_clip_rows(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """documents batches → (id, video) with the portable frame matrices
    rendered as a REAL raw clip: each 8×9 matrix's pixels replicated 4×4
    into a 32×36 gray frame, frames concatenated frame-major — the exact
    layout ``fake_decode_video`` reshapes back (byte count matches, so
    the tile is an identity; pinned by test_fake_decoder_seam_roundtrip).
    Python mirror of the portable arithmetic — divergence is caught by
    the consistency twin."""
    for pdf in pdfs:
        ids, clips = [], []
        from caffeonspark_spark.multimodal.imagehash import _FP_MOD

        for rid, text in zip(pdf["doc_id"], pdf["text"]):
            t = text or ""
            frames = []
            for fi in range(_V_FRAMES):
                rows = []
                for i in range(8):
                    lo = fi * _V_STRIDE + i * _V_CHUNK
                    chunk = t[lo : lo + _V_CHUNK]
                    r = 0
                    for ch in chunk:
                        r = (r * 31 + ord(ch)) % _FP_MOD
                    rows.append([(r * (j + 1) + i) % 256 for j in range(9)])
                mat = np.array(rows, dtype=np.uint8)
                frames.append(
                    np.repeat(np.repeat(mat, _V_REP, axis=0), _V_REP, axis=1)
                )
            ids.append(rid)
            clips.append(np.stack(frames)[..., None].tobytes())
        yield pd.DataFrame({"id": ids, "video": clips})


def video_dup_pairs_render(spark, sf_dir: str) -> DataFrame:
    """The text-rendered production-path clip pair set (consistency-twin
    side): render each document's portable frame matrices as a real raw
    clip, run ``video_sample_frames`` (the decoder seam), per-frame gray
    → area-resize → dHash, position-keyed banding, per-frame Hamming,
    clip gate — over clip bytes DuckDB cannot decode. With k = n_frames
    the uniform sampler picks positions 0..3, and the 4×4 pixel
    replication makes the 8×9 area-resize an exact block mean, so the
    pair set is bit-equal to the portable twin's (pinned by
    ``video_dup_native_consistency``). Until r13 this WAS the declared
    ``video_dup_pairs_native`` row (rows-only); the declared native row
    is now the planted-family query below with a real oracle."""
    from caffeonspark_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    vids = docs.mapInPandas(_video_clip_rows, "id long, video binary")
    meta = vids.select(
        "id",
        F.struct(
            F.col("video").alias("video"),
            F.lit(_V_FRAMES).cast("int").alias("n_frames"),
            F.lit(8 * _V_REP).cast("int").alias("height"),
            F.lit(9 * _V_REP).cast("int").alias("width"),
        ).alias("video_meta"),
    )
    frames = video_sample_frames(meta, k=_V_FRAMES)
    hashed = video_frame_hashes(frames)
    # the portable twin's gate constant: the consistency row full-outer
    # compares this render path against the portable query, so the two
    # gates MUST retune together (r13 review finding)
    return near_dup_video_pairs(hashed, min_frames=_V_MIN_FRAMES_PORTABLE)


#: planted clip families: _V_NAT_FAMILY consecutive doc_ids share one
#: high-entropy random 4-frame clip; copy m is CONTRAST-SCALED via the
#: shared ``imagehash.planted_family_matrix`` construction (its levels/
#: scale tuple) — strictly monotone, so every
#: per-frame dHash is exactly invariant (the image planted construction
#: per position). Measured margins (numpy study, r13): intra-family
#: drift 0 bits at every position/scale; min cross-family PER-POSITION
#: Hamming 15 @ 500 docs / 12 @ 5,000 / 10 @ 20,000 and ZERO cross
#: pairs with even one position at ≤2 (the ≥3-position clip gate needs
#: three); max (fi,k,band) df 28 @ 20,000 under the corpus-scaled cap.
#: Tested SF ceiling: 20,000 docs.
_V_NAT_FAMILY = 4


def _planted_clip_rows(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(doc_id) batches → (id, video): the planted-family raw-clip corpus
    (frame-major, 4×4-replicated — ``fake_decode_video``'s layout).
    Scene/scale/levels come from the SHARED
    ``imagehash.planted_family_matrix`` construction so the image and
    video margins re-tune together (r13 review finding)."""
    from caffeonspark_spark.multimodal.imagehash import planted_family_matrix

    for pdf in pdfs:
        ids, clips = [], []
        for rid in pdf["doc_id"]:
            rid = int(rid)
            scaled = planted_family_matrix(
                rid, (_V_FRAMES, 8, 9), family=_V_NAT_FAMILY
            )
            frames = [
                np.repeat(np.repeat(scaled[fi], _V_REP, axis=0), _V_REP, axis=1)
                for fi in range(_V_FRAMES)
            ]
            ids.append(rid)
            clips.append(np.stack(frames)[..., None].tobytes())
        yield pd.DataFrame({"id": ids, "video": clips})


def _make_planted_clip_hash_rows(decoder):
    """Factory for the FUSED planted-clip front end: (doc_id) batches →
    (id, fi, b0..b3) in one Python pass — render, the pluggable decode
    seam, uniform frame sampling and the per-frame dHash, with the clip
    and frame bytes never crossing the Arrow boundary (guide §4). Every
    step calls the same functions as the staged
    ``_planted_clip_rows`` → ``video_sample_frames`` →
    ``video_frame_hashes`` chain in the same order (including the
    decoder-contract validation), so the emitted hash rows are
    bit-identical. The family base scene is cached per batch (members
    share it; batch-scoped so the dict cannot grow with the corpus)."""
    from caffeonspark_spark.multimodal.imagehash import (
        dhash_bands,
        planted_family_matrix,
        resize_area,
        to_gray,
    )

    h, w = 8 * _V_REP, 9 * _V_REP

    def run(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            base_cache: dict = {}
            ids, idxs, cols = [], [], [[], [], [], []]
            for rid in pdf["doc_id"]:
                rid = int(rid)
                scaled = planted_family_matrix(
                    rid,
                    (_V_FRAMES, 8, 9),
                    family=_V_NAT_FAMILY,
                    _base_cache=base_cache,
                )
                frames = [
                    np.repeat(np.repeat(scaled[fi], _V_REP, axis=0), _V_REP, axis=1)
                    for fi in range(_V_FRAMES)
                ]
                clip_bytes = np.stack(frames)[..., None].tobytes()
                clip = decoder(clip_bytes, _V_FRAMES, h, w)
                if clip.shape[0] == 0:
                    continue
                pick = np.linspace(
                    0,
                    clip.shape[0] - 1,
                    num=min(_V_FRAMES, clip.shape[0]),
                    dtype=np.int64,
                )
                for fi in pick:
                    frame = np.ascontiguousarray(clip[fi])
                    c = frame.nbytes // (h * w)
                    if c not in (1, 3) or frame.nbytes != h * w * c:
                        raise ValueError(
                            "frame byte length does not match dims (expected "
                            f"H*W*{{1,3}}, got {frame.nbytes} for {h}x{w})"
                        )
                    bands = dhash_bands(
                        resize_area(to_gray(frame.reshape(h, w, c)), 8, 9)
                    )
                    ids.append(rid)
                    idxs.append(int(fi))
                    for k in range(4):
                        cols[k].append(bands[k])
            yield pd.DataFrame(
                {
                    "id": ids, "fi": idxs,
                    "b0": cols[0], "b1": cols[1],
                    "b2": cols[2], "b3": cols[3],
                }
            )

    return run


def video_dup_pairs_native(spark, sf_dir: str, decoder=None) -> DataFrame:
    """Declared query (✔oracle — exact pair-set equality, the
    ``audio_dup_pairs_native`` planted-family pattern on clips):
    PLANTED-FAMILY RECALL through the production video path. Every
    ``_V_NAT_FAMILY`` consecutive doc_ids share one high-entropy random
    4-frame clip at four contrast scales; each copy is rendered to real
    raw clip bytes and runs ``video_sample_frames`` → per-frame decode →
    area-resize → dHash → position-keyed banding → per-frame Hamming at
    ``max_hamming=2`` → the ≥3-matched-positions clip gate. Contrast
    scaling preserves every frame hash bit-for-bit and no cross-family
    pair matches even ONE position at ≤ 2 (measured min cross
    per-position distance 10 at 20,000 docs), so the emitted
    ``(id_a, id_b)`` set EQUALS the family combinatorics — the DuckDB
    oracle. Recall AND precision are both load-bearing.

    Corpus-scaled per-position hot cap from parquet footer metadata (no
    eager Spark job), the audio rationale.

    ``decoder`` is the production codec seam: any callable with
    ``decode_video_frames``' contract (bytes, n_frames, h, w) →
    (F, H, W, C) uint8 — e.g. a PyAV/ffmpeg wrapper — threads through
    ``video_sample_frames`` into the full pair pipeline. The default is
    the raw-layout decoder (the planted clips ARE raw frame bytes);
    a third-party stub drives this end-to-end in
    ``test_video_dup_query::test_third_party_decoder_through_pair_pipeline``."""
    from caffeonspark_spark.catalog import load_table, table_nrows
    from caffeonspark_spark.engine import scale_out
    from caffeonspark_spark.multimodal.imagehash import (
        warn_if_beyond_planted_ceiling,
    )

    docs = scale_out(  # r16: rebalance the 8-byte ids before the
        # heavy per-row synth/decode work (single-split scans serialize
        # it onto one task; no-op on multi-split scans, per-row outputs
        # are functions of doc_id so partitioning cannot change values)
        load_table(spark, sf_dir, "documents").select("doc_id")
    )
    n_docs = table_nrows(sf_dir, "documents")
    warn_if_beyond_planted_ceiling(n_docs, "video_dup_pairs_native")
    cap = max(50, n_docs // 100)
    # r16: render → sample/decode → per-frame hash fused into ONE
    # mapInPandas pass (guide §4): the three-stage chain shipped every
    # clip AND every sampled frame across the JVM↔Python Arrow boundary
    # (4 binary crossings per clip); fused, only 8-byte ids enter and
    # 48-byte hash rows leave. Same render bytes, the SAME pluggable
    # decoder seam, the same linspace sampling and the same
    # to_gray → resize_area → dhash_bands calls in the same order, so
    # the per-frame hashes are bit-identical — re-proven by the exact
    # family-combinatorics oracle.
    dec = fake_decode_video if decoder is None else decoder
    hashed = docs.mapInPandas(
        _make_planted_clip_hash_rows(dec),
        "id long, fi int, b0 long, b1 long, b2 long, b3 long",
    )
    return near_dup_video_pairs(
        hashed, frame_col="fi", max_hamming=2, max_band_df=cap, min_frames=3
    ).select("id_a", "id_b")


from caffeonspark_spark.multimodal.imagehash import (  # noqa: E402
    family_combinatorics_sql as _family_sql,
)

ORACLE_VIDEO_DUP_NATIVE = _family_sql(_V_NAT_FAMILY)


def video_dup_native_consistency(spark, sf_dir: str) -> DataFrame:
    """Declared query (✔oracle): ONE row proving the native clip path
    emits EXACTLY the portable twin's pair set — full-outer join of the
    two (id_a, id_b, n_frames_matched) tables, count, and a boolean any
    missing or count-mismatched pair flips (the
    ``image_dhash_native_consistency`` pattern on the video modality;
    strict equality — the render/decode/resize round-trip is lossless by
    construction)."""
    nat = video_dup_pairs_render(spark, sf_dir).withColumnRenamed(
        "n_frames_matched", "n_cnt"
    )
    por = video_dup_pairs_portable(spark, sf_dir).withColumnRenamed(
        "n_frames_matched", "p_cnt"
    )
    both = por.join(nat, ["id_a", "id_b"], "full_outer")
    bad = F.when(
        F.col("p_cnt").isNull()
        | F.col("n_cnt").isNull()
        | (F.col("p_cnt") != F.col("n_cnt")),
        1,
    ).otherwise(0)
    return both.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (F.coalesce(F.sum(bad), F.lit(0)) == 0).alias("pairs_identical"),
    )


_VIDEO_PAIR_CTES = f"""vchunks AS (
        SELECT doc_id, fi, i,
               CASE WHEN length(substring(text, fi*64 + i*16 + 1, 16)) = 0 THEN 0
                    ELSE list_reduce([CAST(0 AS BIGINT)] ||
                        list_transform(
                            range(1, length(substring(text, fi*64 + i*16 + 1, 16)) + 1),
                            c -> CAST(ascii(substring(text, fi*64 + i*16 + 1, 16)[c]) AS BIGINT)),
                        (a, x) -> (a * 31 + x) % 2147483647)
               END AS r
        FROM documents, range(0, 4) f(fi), range(0, 8) t(i)
    ),
    vbits AS (
        SELECT doc_id, fi, CAST(i // 2 AS INT) AS k,
               ((i % 2) * 8 + j) AS pos,
               CASE WHEN (r * (j+1) + i) % 256 < (r * (j+2) + i) % 256
                    THEN 1 ELSE 0 END AS b
        FROM vchunks, range(0, 8) s(j)
    ),
    vbands AS (
        SELECT doc_id, fi, k, CAST(SUM(b * (1::BIGINT << pos)) AS BIGINT) AS band
        FROM vbits GROUP BY doc_id, fi, k
    ),
    vok AS (
        SELECT fi, k, band FROM vbands GROUP BY fi, k, band
        HAVING COUNT(*) <= {_PORTABLE_BAND_CAP}
    ),
    vcand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.fi
        FROM vbands a JOIN vok o ON a.fi = o.fi AND a.k = o.k AND a.band = o.band
        JOIN vbands b ON b.fi = a.fi AND b.k = a.k AND b.band = a.band
             AND a.doc_id < b.doc_id
    ),
    vham AS (
        SELECT c.id_a, c.id_b, c.fi,
               CAST(SUM(bit_count(xor(x.band, y.band))) AS BIGINT) AS hamming
        FROM vcand c
        JOIN vbands x ON x.doc_id = c.id_a AND x.fi = c.fi
        JOIN vbands y ON y.doc_id = c.id_b AND y.fi = c.fi AND y.k = x.k
        GROUP BY c.id_a, c.id_b, c.fi
    ),
    vpairs AS (
        SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_frames_matched
        FROM vham WHERE hamming <= {_PORTABLE_MAX_HAMMING}
        GROUP BY id_a, id_b HAVING COUNT(*) >= {_V_MIN_FRAMES_PORTABLE}
    )"""

ORACLE_VIDEO_DUP_PAIRS = f"""
    WITH {_VIDEO_PAIR_CTES}
    SELECT id_a, id_b, n_frames_matched FROM vpairs
"""

ORACLE_VIDEO_DUP_CONSISTENCY = f"""
    WITH {_VIDEO_PAIR_CTES}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, TRUE AS pairs_identical
    FROM vpairs
"""


def video_dup_clusters(
    spark, sf_dir: str, checkpoint_dir: str | None = None
) -> DataFrame:
    """Declared query (✔oracle): near-duplicate CLIP clusters — connected
    components over the portable video pair set, value-checked against a
    recursive-CTE min-label oracle (``image_dhash_clusters``' pattern on
    the video modality; completes the pairs → clusters symmetry every
    other modality already has). At 100 TB this composes the persisted
    frame-hash table's pair output with the O(diameter)-round min-label
    machinery — near-dup clip clusters are tiny, so 2-3 rounds."""
    from caffeonspark_spark.operators.dedup import connected_components

    return connected_components(
        video_dup_pairs_portable(spark, sf_dir),
        checkpoint_dir=checkpoint_dir,
    ).orderBy("node")


ORACLE_VIDEO_DUP_CLUSTERS = f"""
    WITH RECURSIVE {_VIDEO_PAIR_CTES},
    vedges AS (
        SELECT id_a AS u, id_b AS v FROM vpairs
        UNION ALL
        SELECT id_b AS u, id_a AS v FROM vpairs
    ),
    vreach(node, lbl) AS (
        SELECT DISTINCT u, u FROM vedges
        UNION
        SELECT e.u, r.lbl FROM vedges e JOIN vreach r ON e.v = r.node
    )
    SELECT node, MIN(lbl) AS component FROM vreach GROUP BY node ORDER BY node
"""


def video_dedup_against_corpus_query(spark, sf_dir: str) -> DataFrame:
    """Declared query (✔oracle, r13): bipartite video near-dup — the
    portable frame-hash table split by source (``src10+`` incoming batch
    vs ``src0-9`` kept corpus, the ``dedup_against_corpus`` split), each
    batch clip matched against the corpus only through the position-keyed
    pair phase with the corpus-side per-position hot cap and the
    ≥ ``min_frames`` clip gate. Completes the against-corpus × modality
    matrix: text, image, audio, and now video."""
    from caffeonspark_spark.catalog import load_table
    from caffeonspark_spark.operators.dedup import split_corpus_by_source

    new_docs, ref_docs = split_corpus_by_source(
        load_table(spark, sf_dir, "documents")
    )
    return video_dedup_against_corpus(
        portable_video_frame_hashes_df(new_docs),
        portable_video_frame_hashes_df(ref_docs),
        frame_col="fi",
        min_frames=_V_MIN_FRAMES_PORTABLE,
    ).orderBy("new_id", "ref_id")


ORACLE_VIDEO_DEDUP_AGAINST_CORPUS = f"""
    WITH {_VIDEO_PAIR_CTES},
    vsrc AS (
        SELECT doc_id, CAST(substr(source, 4) AS INT) >= 10 AS is_new
        FROM documents
    ),
    vxb AS (
        SELECT b.doc_id, s.is_new, b.fi, b.k, b.band
        FROM vbands b JOIN vsrc s USING (doc_id)
    ),
    vxok AS (
        SELECT fi, k, band FROM vxb WHERE NOT is_new
        GROUP BY fi, k, band HAVING COUNT(*) <= {_PORTABLE_BAND_CAP}
    ),
    vxcand AS (
        SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS ref_id, a.fi
        FROM vxb a JOIN vxok o ON a.fi = o.fi AND a.k = o.k AND a.band = o.band
        JOIN vxb b ON b.fi = a.fi AND b.k = a.k AND b.band = a.band
        WHERE a.is_new AND NOT b.is_new
    ),
    vxham AS (
        SELECT c.new_id, c.ref_id, c.fi,
               CAST(SUM(bit_count(xor(x.band, y.band))) AS BIGINT) AS hamming
        FROM vxcand c
        JOIN vbands x ON x.doc_id = c.new_id AND x.fi = c.fi
        JOIN vbands y ON y.doc_id = c.ref_id AND y.fi = c.fi AND y.k = x.k
        GROUP BY c.new_id, c.ref_id, c.fi
    )
    SELECT new_id, ref_id, CAST(COUNT(*) AS BIGINT) AS n_frames_matched
    FROM vxham WHERE hamming <= {_PORTABLE_MAX_HAMMING}
    GROUP BY new_id, ref_id HAVING COUNT(*) >= {_V_MIN_FRAMES_PORTABLE}
    ORDER BY new_id, ref_id
"""


def video_dedup_map_query(spark, sf_dir: str) -> DataFrame:
    """Declared query (✔oracle, r13): the composed video dedup's
    canonical-assignment map over the portable frame-hash table — every
    document-clip's smallest exact+near cluster member, checked against a
    DuckDB pipeline that re-runs all three stages cell-for-cell: exact
    grouping on the ordered per-position band sequence, position-keyed
    banding over the exact SURVIVORS only (the hot cap counts survivors,
    not raw clips — the staging that keeps the cap pruning degenerate
    bands, never duplicate mass), and recursive-CTE components. The
    ``image_dedup_map`` declaration pattern on the video modality;
    ``min_frames=2`` matches the declared pair query's clip gate."""
    return video_dedup_map(
        portable_video_frame_hashes(spark, sf_dir),
        frame_col="fi",
        min_frames=_V_MIN_FRAMES_PORTABLE,
    ).orderBy("id")


ORACLE_VIDEO_DEDUP_MAP = f"""
    WITH RECURSIVE {_VIDEO_PAIR_CTES},
    vseq AS (
        SELECT doc_id, list(band ORDER BY fi, k) AS seq
        FROM vbands GROUP BY doc_id
    ),
    vegrp AS (SELECT seq, MIN(doc_id) AS rep FROM vseq GROUP BY seq),
    vemap AS (
        SELECT s.doc_id AS id, e.rep FROM vseq s JOIN vegrp e ON s.seq = e.seq
    ),
    svb AS (
        SELECT doc_id, fi, k, band FROM vbands
        WHERE doc_id IN (SELECT rep FROM vegrp)
    ),
    svok AS (
        SELECT fi, k, band FROM svb GROUP BY fi, k, band
        HAVING COUNT(*) <= {_PORTABLE_BAND_CAP}
    ),
    svcand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.fi
        FROM svb a JOIN svok o ON a.fi = o.fi AND a.k = o.k AND a.band = o.band
        JOIN svb b ON b.fi = a.fi AND b.k = a.k AND b.band = a.band
             AND a.doc_id < b.doc_id
    ),
    svham AS (
        SELECT c.id_a, c.id_b, c.fi,
               CAST(SUM(bit_count(xor(x.band, y.band))) AS BIGINT) AS hamming
        FROM svcand c
        JOIN svb x ON x.doc_id = c.id_a AND x.fi = c.fi
        JOIN svb y ON y.doc_id = c.id_b AND y.fi = c.fi AND y.k = x.k
        GROUP BY c.id_a, c.id_b, c.fi
    ),
    svpairs AS (
        SELECT id_a, id_b FROM svham WHERE hamming <= {_PORTABLE_MAX_HAMMING}
        GROUP BY id_a, id_b HAVING COUNT(*) >= {_V_MIN_FRAMES_PORTABLE}
    ),
    svedges AS (
        SELECT id_a AS u, id_b AS v FROM svpairs
        UNION ALL
        SELECT id_b AS u, id_a AS v FROM svpairs
    ),
    svreach(node, lbl) AS (
        SELECT DISTINCT u, u FROM svedges
        UNION
        SELECT e.u, r.lbl FROM svedges e JOIN svreach r ON e.v = r.node
    ),
    svcomp AS (SELECT node, MIN(lbl) AS component FROM svreach GROUP BY node),
    svkeep AS (
        SELECT g.rep, COALESCE(c.component, g.rep) AS keep_id
        FROM (SELECT DISTINCT rep FROM vegrp) g
        LEFT JOIN svcomp c ON c.node = g.rep
    )
    SELECT m.id, s.keep_id
    FROM vemap m JOIN svkeep s ON s.rep = m.rep
    ORDER BY m.id
"""


# --- declared audio near-dup queries (pairs/clusters — completes the
# --- five-modality dedup symmetry: text/embedding/image/video all have
# --- declared pair+cluster rows; audio had only the invariance check) -------

#: portable fingerprint geometry: 9 "frames" (16-char text windows at
#: stride 32, covering 272 of the documents' ~300 chars) -> 8 temporal
#: gradient rows x 8 "mel" columns = 64 bits. Stride 32 > chunk 16 leaves
#: gaps on purpose: measured at sf0.01 the contiguous stride-16 layout
#: yields only 46 pairs (22 exact) while stride 32 yields 222 (23 exact +
#: 199 graded) AND exercises the hot-band cap (2 hot bands at sf0.01,
#: 9 at sf0.1) — a richer spectrum for the same relational plan.
_A_WINDOWS = 9
_A_CHUNK = 16
_A_STRIDE = 32
#: native planted families: 4 level-scaled copies of one clip per family
#: (gain invariance of the temporal gradient is EXACT — pinned by
#: test_gain_invariance_is_exact; re-measured over 1250 families x 3 gain
#: pairs through PCM16 encode: max intra-family drift 1 bit)
_A_GAINS = (1.0, 0.5, 0.8, 0.65)
_A_FAMILY = 4


def portable_audio_fingerprints(spark, sf_dir: str) -> DataFrame:
    """(id, b0..b3) per-document TEMPORAL-GRADIENT fingerprint bands from
    text-derived log-mel stand-ins — the audio member of the portable
    twin family (``imagehash.portable_image_bands``' role for the audio
    packing layout). Window ``t``'s seed folds the 16-char chunk at
    ``t*32`` (the portable char fold); cell(t, j) = (r_t·(j+1) + t) mod
    256 stands in for log-mel[t, j]; bit(t, j) = cell(t+1, j) >
    cell(t, j) — the EXACT comparison direction of
    ``audio_spectral_fingerprint`` (lm[1:] > lm[:-1]) — and band k packs
    gradient rows 2k, 2k+1 at bit position j + (t mod 2)·8, the exact
    weight layout of the production packing (its ``weights`` array). A
    local text edit perturbs only the windows it touches (≤ 2 gradient
    rows, ≤ 2 bands), so shared-prefix near-dup families produce a graded
    Hamming spectrum like real re-encoded audio.

    Staging discipline: fold each chunk into a REAL column first — every
    seed feeds 32 cell comparisons and Catalyst re-evaluates an inlined
    fold at each reference (the ``portable_image_bands`` lesson: ~256
    fold evaluations per row, measured 30 s vs ~2 s staged)."""
    from caffeonspark_spark.catalog import load_table

    return _portable_audio_bands(load_table(spark, sf_dir, "documents"))


def _portable_audio_bands(docs: DataFrame) -> DataFrame:
    """The band construction over any ``(doc_id, text)`` frame — split out
    so tests can feed crafted documents (edit locality, mirror parity)."""
    from caffeonspark_spark.engine import scale_out
    from caffeonspark_spark.multimodal.imagehash import _chunk_fold

    # r16: same single-split rebalance as the image/video front ends
    docs = scale_out(docs.select("doc_id", "text"))
    chunked = docs.select(
        F.col("doc_id").alias("id"),
        *[
            F.col("text")
            .substr(F.lit(t * _A_STRIDE + 1), F.lit(_A_CHUNK))
            .alias(f"c{t}")
            for t in range(_A_WINDOWS)
        ],
    )
    seeded = chunked.select(
        "id",
        *[_chunk_fold(F.col(f"c{t}")).alias(f"r{t}") for t in range(_A_WINDOWS)],
    )

    # r17: each band as ONE parsed SQL expression — the per-bit Column
    # chain cost ~640 py4j round trips per invocation (the
    # portable_image_bands finding; same fix, same term-for-term
    # arithmetic, long addition is exact so values are bit-identical)
    def cell(t: int, j: int) -> str:
        return f"pmod(r{t} * {j + 1} + {t}, 256)"

    bands = []
    for k in range(4):
        terms = []
        for t in (2 * k, 2 * k + 1):
            for j in range(8):
                terms.append(
                    f"cast(({cell(t + 1, j)} > {cell(t, j)}) as long)"
                    f" * {1 << (j + (t % 2) * 8)}"
                )
        bands.append(F.expr(" + ".join(terms)).alias(f"b{k}"))
    return seeded.select("id", *bands)


def audio_dup_pairs_portable(spark, sf_dir: str) -> DataFrame:
    """Declared query (✔oracle): near-duplicate AUDIO pairs — the shared
    band machinery (``near_dup_band_pairs``: band explode, hot cap,
    bucket join, distinct, Hamming filter) over portable text-derived
    temporal-gradient fingerprints, verifying the audio PACKING LAYOUT
    (gradient direction, per-row bit offsets, row-pair banding) against
    DuckDB exactly. Output ``(id_a, id_b, hamming)``."""
    from caffeonspark_spark.multimodal.imagehash import near_dup_band_pairs

    return near_dup_band_pairs(portable_audio_fingerprints(spark, sf_dir))


def audio_dup_clusters(
    spark, sf_dir: str, checkpoint_dir: str | None = None
) -> DataFrame:
    """Declared query (✔oracle): near-duplicate audio clip clusters —
    connected components over the portable audio pair set, value-checked
    against a recursive-CTE min-label oracle (the
    ``image_dhash_clusters`` / ``video_dup_clusters`` pattern on the
    audio modality). At 100 TB this composes the persisted fingerprint
    table's pair output with the O(log diameter) pointer-jumping
    min-label machinery."""
    from caffeonspark_spark.operators.dedup import connected_components

    return connected_components(
        audio_dup_pairs_portable(spark, sf_dir).select("id_a", "id_b"),
        checkpoint_dir=checkpoint_dir,
    ).orderBy("node")


def synthetic_rich_clip(seed: int, n: int = 1400, sr: int = 8000) -> np.ndarray:
    """Deterministic 10-segment wide-band chirp sequence — the
    HIGH-ENTROPY audio fixture for dedup recall checks.
    ``synthetic_tone_clip``'s 4 narrow segments are fine for the
    SELF-relative invariance query but their fingerprints collide across
    clips: measured over 1250 clips, min cross-clip Hamming 0 and — with
    the planted 4-copy families — 349/1250 families had ALL four bands
    over the df-50 hot cap (a chirp sweeping up moves energy up the mel
    bands, making many gradient bits predictable). Ten independent
    segments with both sweep directions over 150-3500 Hz push the
    fingerprint entropy up: measured min cross-clip Hamming 6, zero
    cross pairs at ≤ 2, max band df 96, zero all-hot families — while
    keeping every gradient cell decisive (max intra-family drift through
    PCM16 + gain: 1 bit over 3750 pairs). Same PCG64 determinism note as
    ``synthetic_tone_clip``."""
    rng = np.random.default_rng(seed)
    t = np.arange(n) / sr
    w = np.zeros(n)
    edges = np.linspace(0, n, 11).astype(int)
    for s in range(10):
        f0 = rng.uniform(150.0, 3500.0)
        f1 = rng.uniform(150.0, 3500.0)
        a = rng.uniform(0.15, 0.85)
        seg = slice(edges[s], edges[s + 1])
        ts = t[seg] - t[seg][0]
        dur = max(len(ts) / sr, 1e-9)
        w[seg] = a * np.sin(2 * np.pi * (f0 * ts + (f1 - f0) / (2 * dur) * ts * ts))
    return w.astype(np.float32)


def audio_dup_pairs_native(spark, sf_dir: str, decoder=None) -> DataFrame:
    """Declared query (✔oracle — exact pair-set equality, stronger than
    the rows-only hash-native pattern): PLANTED-FAMILY RECALL through the
    production audio path. Every 4 consecutive doc_ids form a family
    sharing one high-entropy clip (``synthetic_rich_clip``, seeded by the
    family id) at four gain levels; each copy is PCM16-encoded to real
    RIFF/WAVE bytes and runs decode → log-mel → gradient fingerprint →
    the shared band machinery at ``max_hamming=2``. The temporal gradient
    cancels a constant gain exactly, so every within-family pair is found
    (measured max drift 1 bit), and at Hamming ≤ 2 no cross-family pair
    survives (measured min cross distance 6 over the sf0.1 family set) —
    the emitted ``(id_a, id_b)`` set EQUALS the family combinatorics,
    which IS the DuckDB oracle. Both directions checked: a missed copy
    (recall) or a false pair (precision) breaks the hash.

    Scale posture: one metadata-pruned documents scan, one linear
    synth+encode pass, one linear fingerprint pass into the persisted
    band table, then the banding-bounded pair plan — identical to the
    image/video native forms.

    The hot-band cap SCALES WITH THE CORPUS (``max(50, n_docs // 100)``):
    band document frequency grows linearly with corpus size (families are
    iid draws over a fixed band-value distribution), so a FIXED cap
    eventually prunes every band of some planted family and silently
    breaks the recall oracle. Measured: at 5,000 docs cap 50 leaves zero
    all-hot families (max df 96); at 20,000 docs cap 50 strands 9
    families while the scaled cap 200 strands zero (max df 352) — and
    precision holds (min cross-family Hamming 4, zero cross pairs ≤ 2).
    The df/n ratio is scale-free, so cap ∝ n keeps the pruned fraction
    stationary at any corpus size. At the two gated SFs the scaled cap
    equals the old fixed 50, so verified results are unchanged.

    TESTED SF CEILING: 20,000 docs (4× the sf0.1 corpus). The exact
    pair-set-equality oracle rests on MEASURED probabilistic separation —
    min cross-family Hamming 6 at the gated SFs, 4 at 20k docs; beyond
    the ceiling nothing guarantees a chance cross-family pair at ≤ 2
    can't appear (r12 ADVICE). If a larger corpus ever trips the gate,
    the diagnosis is a cross pair, not a recall miss: got ⊇ family pairs
    always holds (the gradient is gain-exact), so diff got against the
    combinatorics and inspect the offending cross pair's two families."""
    from caffeonspark_spark.catalog import load_table, table_nrows
    from caffeonspark_spark.engine import scale_out
    from caffeonspark_spark.multimodal.imagehash import (
        near_dup_band_pairs,
        warn_if_beyond_planted_ceiling,
    )

    docs = scale_out(  # r16: rebalance the 8-byte ids before the
        # heavy per-row synth/decode work (single-split scans serialize
        # it onto one task; no-op on multi-split scans, per-row outputs
        # are functions of doc_id so partitioning cannot change values)
        load_table(spark, sf_dir, "documents").select("doc_id")
    )
    # parquet footer metadata — no Spark job at query-construction time
    # (r12 ADVICE: an eager count here ran once per construction and
    # leaked into bench warm-up timings)
    n_docs = table_nrows(sf_dir, "documents")
    warn_if_beyond_planted_ceiling(n_docs, "audio_dup_pairs_native")
    cap = max(50, n_docs // 100)

    # the production codec seam: a soundfile/torchaudio wrapper with
    # wav_frame_decoder's (bytes, n_samples) -> float32 contract drops
    # in here; pinned end-to-end by
    # test_audio_dup::test_third_party_decoder_through_pair_pipeline
    dec = wav_frame_decoder if decoder is None else decoder

    # r16: synth → PCM16 encode → decode seam → log-mel fingerprint fused
    # into ONE mapInPandas pass (guide §4): the RIFF/WAVE bytes previously
    # crossed the JVM↔Python Arrow boundary twice between the synth and
    # fingerprint stages; fused, only 8-byte ids enter and hash rows
    # leave. The encode → decode round trip (the PCM16 quantization the
    # oracle margin was measured through) still runs on the same bytes,
    # and the fingerprint math is the shared ``_spectral_fp_bands`` core,
    # so the emitted bands are bit-identical. The family clip is cached
    # per batch (members share it; batch-scoped so the dict cannot grow
    # with the corpus).
    def gen(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        window = np.hanning(256).astype(np.float64)
        weights = 1 << (
            np.arange(8)[None, :] + (np.arange(8)[:, None] % 2) * 8
        )
        fbs: dict[int, np.ndarray] = {}
        for pdf in pdfs:
            clip_cache: dict[int, np.ndarray] = {}
            ids, cols = [], [[], [], [], []]
            for did in pdf["doc_id"]:
                did = int(did)
                fam = did - did % _A_FAMILY
                w = clip_cache.get(fam)
                if w is None:
                    w = synthetic_rich_clip(fam)
                    clip_cache[fam] = w
                g = np.float32(_A_GAINS[did % _A_FAMILY])
                wave = dec(encode_wav_pcm16(g * w, 8000), len(w))
                bands = _spectral_fp_bands(
                    wave, 8000, 256, 128, window, fbs, weights
                )
                ids.append(did)
                for k in range(4):
                    cols[k].append(bands[k])
            yield pd.DataFrame(
                {
                    "id": ids,
                    "b0": cols[0], "b1": cols[1],
                    "b2": cols[2], "b3": cols[3],
                }
            )

    fp = docs.mapInPandas(gen, "id long, b0 long, b1 long, b2 long, b3 long")
    return near_dup_band_pairs(
        fp, max_hamming=2, max_band_df=cap
    ).select("id_a", "id_b")


# _PORTABLE_BAND_CAP / _PORTABLE_MAX_HAMMING are the imagehash module's
# named defaults (imported at the top): the SAME constants parameterize
# near_dup_band_pairs/near_dup_video_pairs AND every oracle below, so the
# Spark side and the SQL cannot silently desync (r12 ADVICE; the r13
# review moved the binding from inspect.signature to the shared named
# constants so composed consumers like image_dedup are covered too)
_AUDIO_PAIR_CTES = f"""awin AS (
        SELECT doc_id, t,
               CASE WHEN length(substring(text, t*{_A_STRIDE} + 1, {_A_CHUNK})) = 0 THEN 0
                    ELSE list_reduce([CAST(0 AS BIGINT)] ||
                        list_transform(
                            range(1, length(substring(text, t*{_A_STRIDE} + 1, {_A_CHUNK})) + 1),
                            c -> CAST(ascii(substring(text, t*{_A_STRIDE} + 1, {_A_CHUNK})[c]) AS BIGINT)),
                        (a, x) -> (a * 31 + x) % 2147483647)
               END AS r
        FROM documents, range(0, {_A_WINDOWS}) s(t)
    ),
    acell AS (
        SELECT doc_id, t, j, (r * (j+1) + t) % 256 AS m
        FROM awin, range(0, 8) q(j)
    ),
    abit AS (
        SELECT a.doc_id, CAST(a.t // 2 AS INT) AS k,
               (a.j + (a.t % 2) * 8) AS pos,
               CASE WHEN b.m > a.m THEN 1 ELSE 0 END AS bit
        FROM acell a
        JOIN acell b ON b.doc_id = a.doc_id AND b.t = a.t + 1 AND b.j = a.j
        WHERE a.t < {_A_WINDOWS - 1}
    ),
    abands AS (
        SELECT doc_id, k, CAST(SUM(bit * (1::BIGINT << pos)) AS BIGINT) AS band
        FROM abit GROUP BY doc_id, k
    ),
    aok AS (
        SELECT k, band FROM abands GROUP BY k, band
        HAVING COUNT(*) <= {_PORTABLE_BAND_CAP}
    ),
    acand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM abands a JOIN aok o ON a.k = o.k AND a.band = o.band
        JOIN abands b ON b.k = a.k AND b.band = a.band AND a.doc_id < b.doc_id
    ),
    apairs AS (
        SELECT c.id_a, c.id_b,
               CAST(SUM(bit_count(xor(x.band, y.band))) AS BIGINT) AS hamming
        FROM acand c
        JOIN abands x ON x.doc_id = c.id_a
        JOIN abands y ON y.doc_id = c.id_b AND y.k = x.k
        GROUP BY c.id_a, c.id_b
        HAVING SUM(bit_count(xor(x.band, y.band))) <= {_PORTABLE_MAX_HAMMING}
    )"""

ORACLE_AUDIO_DUP_PAIRS = f"""
    WITH {_AUDIO_PAIR_CTES}
    SELECT id_a, id_b, hamming FROM apairs
"""

ORACLE_AUDIO_DUP_CLUSTERS = f"""
    WITH RECURSIVE {_AUDIO_PAIR_CTES},
    aedges AS (
        SELECT id_a AS u, id_b AS v FROM apairs
        UNION ALL
        SELECT id_b AS u, id_a AS v FROM apairs
    ),
    areach(node, lbl) AS (
        SELECT DISTINCT u, u FROM aedges
        UNION
        SELECT e.u, r.lbl FROM aedges e JOIN areach r ON e.v = r.node
    )
    SELECT node, MIN(lbl) AS component FROM areach GROUP BY node ORDER BY node
"""

def audio_dedup_map_query(spark, sf_dir: str) -> DataFrame:
    """Declared query (✔oracle, r13): the composed audio dedup's
    canonical-assignment map over the portable fingerprint table — every
    clip's smallest exact+near cluster member. ``image_dedup`` is
    modality-agnostic over any ``(id, b0..b3)`` band table (its docstring
    contract, already pinned for audio by
    ``test_audio_dup::test_audio_fingerprints_through_composed_dedup``),
    so the audio map IS the image composition on fingerprints: exact
    full-fingerprint groupBy keep-min → banded pairs over the exact
    survivors (the hot cap counts survivors) → components → total
    (id, keep_id) map. Completes the composed-dedup-map × modality
    matrix: text ``clean_corpus`` / image ``image_dedup_map`` / video
    ``video_dedup_map`` / audio this. Checked against a DuckDB pipeline
    re-running all three stages cell-for-cell."""
    from caffeonspark_spark.multimodal.imagehash import image_dedup

    return image_dedup(portable_audio_fingerprints(spark, sf_dir)).orderBy("id")


ORACLE_AUDIO_DEDUP_MAP = f"""
    WITH RECURSIVE {_AUDIO_PAIR_CTES},
    awide AS (
        SELECT doc_id,
               MAX(CASE WHEN k = 0 THEN band END) AS b0,
               MAX(CASE WHEN k = 1 THEN band END) AS b1,
               MAX(CASE WHEN k = 2 THEN band END) AS b2,
               MAX(CASE WHEN k = 3 THEN band END) AS b3
        FROM abands GROUP BY doc_id
    ),
    aegrp AS (
        SELECT b0, b1, b2, b3, MIN(doc_id) AS rep
        FROM awide GROUP BY b0, b1, b2, b3
    ),
    aemap AS (
        SELECT w.doc_id AS id, e.rep
        FROM awide w JOIN aegrp e USING (b0, b1, b2, b3)
    ),
    arb AS (
        SELECT doc_id, k, band FROM abands
        WHERE doc_id IN (SELECT rep FROM aegrp)
    ),
    arok AS (
        SELECT k, band FROM arb GROUP BY k, band
        HAVING COUNT(*) <= {_PORTABLE_BAND_CAP}
    ),
    arcand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM arb a JOIN arok o ON a.k = o.k AND a.band = o.band
        JOIN arb b ON b.k = a.k AND b.band = a.band AND a.doc_id < b.doc_id
    ),
    arham AS (
        SELECT c.id_a, c.id_b,
               CAST(SUM(bit_count(xor(x.band, y.band))) AS BIGINT) AS hamming
        FROM arcand c
        JOIN arb x ON x.doc_id = c.id_a
        JOIN arb y ON y.doc_id = c.id_b AND y.k = x.k
        GROUP BY c.id_a, c.id_b
    ),
    arpairs AS (
        SELECT id_a, id_b FROM arham WHERE hamming <= {_PORTABLE_MAX_HAMMING}
    ),
    aredges AS (
        SELECT id_a AS u, id_b AS v FROM arpairs
        UNION ALL
        SELECT id_b AS u, id_a AS v FROM arpairs
    ),
    arreach(node, lbl) AS (
        SELECT DISTINCT u, u FROM aredges
        UNION
        SELECT e.u, r.lbl FROM aredges e JOIN arreach r ON e.v = r.node
    ),
    arcomp AS (SELECT node, MIN(lbl) AS component FROM arreach GROUP BY node),
    arkeep AS (
        SELECT g.rep, COALESCE(c.component, g.rep) AS keep_id
        FROM (SELECT DISTINCT rep FROM aegrp) g
        LEFT JOIN arcomp c ON c.node = g.rep
    )
    SELECT m.id, s.keep_id
    FROM aemap m JOIN arkeep s ON s.rep = m.rep
    ORDER BY m.id
"""


def audio_dedup_against_corpus_query(spark, sf_dir: str) -> DataFrame:
    """Declared query (✔oracle, r13): bipartite audio near-dup — the
    portable fingerprint table split by source (``src10+`` incoming batch
    vs ``src0-9`` kept corpus, the ``dedup_against_corpus`` split) and
    each batch clip matched against the corpus only.
    ``image_dedup_against_corpus`` is modality-agnostic over any
    ``(id, b0..b3)`` band table, so the audio form IS that operator on
    fingerprints: corpus band table materialized once per corpus version,
    candidates ∝ CROSS-side band collisions, hot cap computed on the
    corpus side. Completes the against-corpus × modality coverage
    for every band-table modality (text, image, audio; video has its own
    position-keyed bipartite form, ``video_dedup_against_corpus``)."""
    from caffeonspark_spark.catalog import load_table
    from caffeonspark_spark.multimodal.imagehash import (
        image_dedup_against_corpus,
    )
    from caffeonspark_spark.operators.dedup import split_corpus_by_source

    new_docs, ref_docs = split_corpus_by_source(
        load_table(spark, sf_dir, "documents")
    )
    return image_dedup_against_corpus(
        _portable_audio_bands(new_docs), _portable_audio_bands(ref_docs)
    ).orderBy("new_id", "ref_id")


ORACLE_AUDIO_DEDUP_AGAINST_CORPUS = f"""
    WITH {_AUDIO_PAIR_CTES},
    asrc AS (
        SELECT doc_id, CAST(substr(source, 4) AS INT) >= 10 AS is_new
        FROM documents
    ),
    axb AS (
        SELECT b.doc_id, s.is_new, b.k, b.band
        FROM abands b JOIN asrc s USING (doc_id)
    ),
    axok AS (
        SELECT k, band FROM axb WHERE NOT is_new
        GROUP BY k, band HAVING COUNT(*) <= {_PORTABLE_BAND_CAP}
    ),
    axcand AS (
        SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS ref_id
        FROM axb a JOIN axok o ON a.k = o.k AND a.band = o.band
        JOIN axb b ON b.k = a.k AND b.band = a.band
        WHERE a.is_new AND NOT b.is_new
    ),
    axham AS (
        SELECT c.new_id, c.ref_id,
               CAST(SUM(bit_count(xor(x.band, y.band))) AS BIGINT) AS hamming
        FROM axcand c
        JOIN abands x ON x.doc_id = c.new_id
        JOIN abands y ON y.doc_id = c.ref_id AND y.k = x.k
        GROUP BY c.new_id, c.ref_id
    )
    SELECT new_id, ref_id, hamming FROM axham
    WHERE hamming <= {_PORTABLE_MAX_HAMMING}
    ORDER BY new_id, ref_id
"""


# the family combinatorics: every within-family ordered pair — the exact
# set the planted-gain construction guarantees the production path emits
ORACLE_AUDIO_DUP_NATIVE = _family_sql(_A_FAMILY)
