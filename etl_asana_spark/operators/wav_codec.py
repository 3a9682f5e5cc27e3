"""Pure-stdlib WAV (RIFF/WAVE) encode/decode + integer audio features.

The audio analogue of :mod:`.png_codec` (SURVEY §2.12 #75 "multimodal"):
WAV is the one first-class training-audio container simple enough to
parse with ``struct`` alone, so — unlike video, where modern codecs need
ffmpeg and the stub tier is honest — the audio decode path is REAL in
this dependency-less container. :func:`decode_wav` is the only reader:
one RIFF chunk walk, then PCM16 mono frames or IMA-ADPCM blocks, and a
``ValueError`` for anything else. :func:`encode_wav` writes PCM16 through
the stdlib ``wave`` writer, so the round-trip tests check this parser
against an independent writer. Payloads are genuine RIFF/WAVE files
(44-byte header, PCM16 mono frames) that any external tool parses.

Feature math is ALL-INTEGER by design: energy = Σ s², zero crossings,
peak = max|s|, duration_ms = ⌊n·1000/rate⌋ are exact integers, so the
fixture-derived DuckDB oracle (scripts/regen_multimodal_expected.py)
compares them with zero float-drift surface — stronger than the PNG keys'
fixed-point floats.

No reference file to cite: /root/reference is an empty snapshot (SURVEY
§0); the binding spec is SURVEY §2.12 and the driver contract.
"""

from __future__ import annotations

import io
import struct
import wave

#: Synthesis constants shared by the payload generator, the pure-Python
#: fixture replay, and the SQL oracle's re-derivation (change together!).
N_SAMPLES_BASE = 128
N_SAMPLES_MOD = 241
RATES = (8000, 12000, 16000)

#: fmt-chunk wFormatTag values this codec decodes.
WAVE_FORMAT_PCM = 0x0001
WAVE_FORMAT_IMA_ADPCM = 0x0011


def is_wav(payload: bytes) -> bool:
    """RIFF container with a WAVE form type — the dispatch signature."""
    return (
        len(payload) >= 12
        and payload[:4] == b"RIFF"
        and payload[8:12] == b"WAVE"
    )


def _walk_riff_chunks(payload: bytes):
    """Yield (fourcc, body) for each top-level subchunk of a RIFF/WAVE
    payload — the one container walk of this module. The walk stops at
    ``min(len(payload), 8 + RIFF size)``: bytes past the RIFF chunk are not
    part of the file. A truncated final chunk yields the bytes present;
    a truncated chunk header ends the walk. Chunks are word-aligned."""
    (riff_size,) = struct.unpack("<I", payload[4:8])
    end = min(len(payload), 8 + riff_size)
    pos = 12  # past RIFF<size>WAVE
    while pos + 8 <= end:
        fourcc = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        yield fourcc, payload[pos + 8 : min(pos + 8 + size, end)]
        pos += 8 + size + (size & 1)


def pcm16_from_bytes(raw: bytes, n_samples: int) -> list[int]:
    """Deterministic int16 waveform from content bytes: cycle the bytes to
    length and mix each through ``(b·997 mod 65536) − 32768`` — a pure
    per-byte map (trivially replayable in SQL or numpy) whose sign varies
    across printable ASCII. A plain ``(b−128)·256`` centering would leave
    every all-ASCII document entirely negative (bytes 32–126 < 128),
    collapsing zero_crossings to 0 corpus-wide; the odd multiplier spreads
    bytes over the full int16 range so energy AND crossing counts both
    discriminate documents."""
    if not raw:
        raw = b"\x00"
    cycled = (raw * (n_samples // len(raw) + 1))[:n_samples]
    return [(b * 997) % 65536 - 32768 for b in cycled]


def synth_params(raw_len: int, doc_id: int) -> tuple[int, int]:
    """(n_samples, sample_rate) for one document — pure functions of the
    byte length and id, mirrored in SQL by the q_multimodal_audio oracle's
    join (a drifted fixture therefore drops rows and fails loudly).

    Domain note: ``doc_id`` must be ≥ 0 for the SQL mirror to hold —
    DuckDB's ``%`` keeps the dividend's sign while Python's is always
    non-negative. True of every id domain in the testdata (min doc_id = 0
    at all three scales, probed r07); assert rather than silently diverge.
    """
    if doc_id < 0:
        raise ValueError(f"doc_id must be non-negative, got {doc_id}")
    n_samples = N_SAMPLES_BASE + (max(raw_len, 1) % N_SAMPLES_MOD)
    return n_samples, RATES[doc_id % len(RATES)]


def encode_wav(sample_rate: int, samples: list[int]) -> bytes:
    """PCM16 mono RIFF/WAVE bytes via the stdlib ``wave`` writer."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[int, list[int]]:
    """(sample_rate, samples) from RIFF/WAVE bytes — a REAL parse: one walk
    over the RIFF chunks (:func:`_walk_riff_chunks`), then dispatch on the
    fmt chunk's wFormatTag. PCM (0x0001) must be 16-bit mono and its data
    chunk unpacks as little-endian int16 frames; IMA-ADPCM (0x0011, r08)
    decodes block by block (see below). The first fmt and the first data
    chunk count, in any order; a 'fact' chunk caps the ADPCM sample count.

    Contract: raises ``ValueError`` — and nothing else — on every input it
    does not decode: not RIFF/WAVE, no fmt or data chunk, a fmt chunk
    under 16 bytes, a zero sample rate, any other format tag or layout,
    or an odd PCM16 data byte count (callers dispatch to the raw-PCM
    fallback on it)."""
    if not is_wav(payload):
        raise ValueError("not a RIFF/WAVE payload")
    fmt = data = fact_samples = None
    for fourcc, body in _walk_riff_chunks(payload):
        if fourcc == b"fmt " and fmt is None:
            fmt = body
        elif fourcc == b"data" and data is None:
            data = body
        elif fourcc == b"fact" and len(body) >= 4:
            (fact_samples,) = struct.unpack("<I", body[:4])
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    if len(fmt) < 16:
        raise ValueError(f"fmt chunk too short: {len(fmt)} bytes")
    tag, channels, rate, _brate, block_align, bits = struct.unpack(
        "<HHIIHH", fmt[:16]
    )
    if rate == 0:
        # A zero rate would put a zero divisor into every duration formula
        # downstream (r07 review finding).
        raise ValueError("zero WAV sample rate")
    if tag == WAVE_FORMAT_PCM:
        # (bits + 7) // 8 is the container's byte width per sample, so a
        # 12-bit stream stored in 16-bit words reads as PCM16.
        if channels != 1 or (bits + 7) // 8 != 2:
            raise ValueError(
                f"unsupported WAV layout: bits={bits} channels={channels} "
                "(PCM16 mono only)"
            )
        if len(data) % 2:
            raise ValueError(f"odd PCM16 data byte count: {len(data)}")
        return rate, list(struct.unpack(f"<{len(data) // 2}h", data))
    if tag == WAVE_FORMAT_IMA_ADPCM:
        return rate, _decode_ima_adpcm(
            fmt, data, fact_samples, channels, block_align, bits
        )
    raise ValueError(f"unsupported wFormatTag 0x{tag:04X}")


def audio_signature(samples: list[int]) -> tuple[int, int, int]:
    """(energy, zero_crossings, peak) — exact integers.

    energy = Σ s² (≤ n·2¹⁵·2¹⁵ ≈ 4e11 for the synthesis bounds: BIGINT);
    zero_crossings counts strict sign changes with 0 counted non-negative;
    peak = max|s| (0 for an empty stream)."""
    energy = sum(s * s for s in samples)
    zc = sum(
        1
        for i in range(1, len(samples))
        if (samples[i - 1] < 0) != (samples[i] < 0)
    )
    peak = max((abs(s) for s in samples), default=0)
    return energy, zc, peak


# ---------------------------------------------------------------------------
# IMA ADPCM (WAVE_FORMAT_IMA_ADPCM = 0x0011) — from-scratch decode/encode
# (r08). Implemented from the public specifications: the IMA "Recommended
# Practices for Enhancing Digital Audio Compatibility" 4:1 ADPCM algorithm
# (step/index tables and the nibble→difference reconstruction, also
# reproduced in RFC 3551 §4.5.1 for DVI4) and Microsoft's multimedia
# registration of the WAV container layout (block header = int16 predictor
# + uint8 step index + reserved byte; low nibble first; the header
# predictor IS output sample 0 of the block). No reference repo to cite:
# /root/reference is an empty snapshot (SURVEY §0).
#
# Scope (deliberate, same contract shape as the PCM16 path): mono only,
# 4-bit, any block size. Encode exists as the fixture generator (standard
# quantizer: same tables, nibble chosen by successive step halving, so
# decode∘encode error is bounded by the final step size — asserted in
# tests against the per-sample step bound, not a vague SNR).
# ---------------------------------------------------------------------------

#: IMA step-size table (89 entries) and index-adjust table — public
#: constants from the IMA recommended practices.
IMA_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
IMA_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8)


def _ima_step(predictor: int, index: int, nibble: int) -> tuple[int, int]:
    """One IMA reconstruction step: (new_predictor, new_index)."""
    step = IMA_STEP_TABLE[index]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    predictor = predictor - diff if nibble & 8 else predictor + diff
    predictor = max(-32768, min(32767, predictor))
    index = max(0, min(88, index + IMA_INDEX_TABLE[nibble & 7]))
    return predictor, index


def _decode_ima_adpcm(
    fmt: bytes, data: bytes, fact_samples: int | None,
    channels: int, block_align: int, bits: int,
) -> list[int]:
    """Samples of a mono IMA-ADPCM data chunk, given the fields
    :func:`decode_wav` parsed from its fmt chunk — a REAL decompression:
    per block, seed (predictor, index) from the 4-byte header (the
    predictor is sample 0), then reconstruct one sample per nibble, low
    nibble first. Honors the 'fact' chunk's total sample count when
    present (the container's way of marking padding nibbles in the final
    block). Raises ValueError on anything outside the mono/4-bit scope or
    on a malformed layout."""
    if channels != 1 or bits != 4:
        raise ValueError(
            f"unsupported IMA-ADPCM layout: channels={channels} bits={bits} "
            "(mono 4-bit only)"
        )
    if block_align < 4:
        raise ValueError(f"IMA-ADPCM block_align too small: {block_align}")
    # fmt extension: cbSize (uint16 at 16) then wSamplesPerBlock (uint16 at
    # 18). A conformant encoder may emit blocks carrying FEWER samples than
    # the block's nibble capacity; without honoring it, padding nibbles
    # decode as interior garbage samples (r08 advice). Cap per-block output
    # to it when present; full-block decode otherwise.
    capacity = (block_align - 4) * 2 + 1
    spb = capacity
    if len(fmt) >= 18:
        (cb,) = struct.unpack("<H", fmt[16:18])
        if cb >= 2:
            if len(fmt) < 20:
                # cbSize PROMISES an extension the chunk doesn't carry —
                # decoding full blocks anyway would emit the padding-nibble
                # garbage this field exists to prevent (r09 review).
                raise ValueError(
                    "IMA-ADPCM fmt declares a "
                    f"{cb}-byte extension but the chunk is {len(fmt)} bytes"
                )
            (spb,) = struct.unpack("<H", fmt[18:20])
            if spb < 1 or spb > capacity:
                raise ValueError(
                    f"IMA-ADPCM wSamplesPerBlock={spb} outside [1, "
                    f"{capacity}] for block_align={block_align}"
                )

    samples: list[int] = []
    for start in range(0, len(data), block_align):
        block = data[start : start + block_align]
        if len(block) < 4:
            raise ValueError("truncated IMA-ADPCM block header")
        predictor, index = struct.unpack("<hB", block[:3])
        if index > 88:
            raise ValueError(f"IMA-ADPCM step index out of range: {index}")
        samples.append(predictor)
        emitted = 1
        for byte in block[4:]:
            if emitted >= spb:
                break
            for nibble in (byte & 0x0F, byte >> 4):  # LOW nibble first
                predictor, index = _ima_step(predictor, index, nibble)
                if emitted < spb:
                    samples.append(predictor)
                    emitted += 1
    if fact_samples is not None:
        if fact_samples > len(samples):
            raise ValueError(
                f"fact chunk claims {fact_samples} samples, "
                f"blocks decode to {len(samples)}"
            )
        samples = samples[:fact_samples]
    return samples


def encode_ima_adpcm(
    sample_rate: int, samples: list[int], block_frames: int = 505
) -> bytes:
    """Mono IMA-ADPCM RIFF/WAVE bytes — the fixture generator (standard
    quantizer: pick each nibble by successive step halving, then run the
    DECODER's reconstruction to keep encoder state bit-identical to what
    the decoder will rebuild). ``block_frames`` = samples per block
    including the header sample; 505 gives the canonical 256-byte block."""
    if not samples:
        raise ValueError("cannot encode an empty sample stream")
    if sample_rate <= 0:
        raise ValueError(f"non-positive sample rate: {sample_rate}")
    if block_frames < 2:
        raise ValueError("block_frames must be >= 2")
    if (block_frames - 1) % 2:
        raise ValueError("block_frames - 1 must be even (whole bytes)")

    block_align = 4 + (block_frames - 1) // 2
    index = 0
    blocks = []
    for start in range(0, len(samples), block_frames):
        chunk = samples[start : start + block_frames]
        predictor = max(-32768, min(32767, int(chunk[0])))
        block = bytearray(struct.pack("<hBB", predictor, index, 0))
        nibbles = []
        for s in chunk[1:]:
            target = max(-32768, min(32767, int(s)))
            step = IMA_STEP_TABLE[index]
            diff = target - predictor
            nibble = 0
            if diff < 0:
                nibble = 8
                diff = -diff
            if diff >= step:
                nibble |= 4
                diff -= step
            if diff >= step >> 1:
                nibble |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                nibble |= 1
            predictor, index = _ima_step(predictor, index, nibble)
            nibbles.append(nibble)
        nibbles += [0] * ((block_frames - 1) - len(nibbles))  # pad last block
        for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
            block.append(lo | (hi << 4))
        blocks.append(bytes(block))

    data = b"".join(blocks)
    byte_rate = (sample_rate * block_align + block_frames - 1) // block_frames
    fmt = struct.pack(
        "<HHIIHHHH", WAVE_FORMAT_IMA_ADPCM, 1, sample_rate, byte_rate,
        block_align, 4, 2, block_frames,
    )
    fact = struct.pack("<I", len(samples))
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body
