"""IMA-ADPCM WAV decode/encode (r08 — widens the real audio tier:
compressed-WAV payloads once degraded to the raw-PCM fallback; now
``decode_wav`` dispatches wFormatTag 0x11 to a REAL decompression
implemented from the public IMA/RFC 3551 tables).

Verification mirrors the JPEG discipline: hand-computed reconstructions
with zero encoder involvement, encoder→decoder round-trips with the error
bounded by the adapted step size, container-contract checks (mono/4-bit
scope, fact-chunk truncation, malformed layouts raise ValueError only),
and the kernel dispatch routing."""

from __future__ import annotations

import math
import struct

import pytest

from etl_asana_spark.operators import wav_codec as wc


def _block(predictor, index, nibbles):
    body = bytearray(struct.pack("<hBB", predictor, index, 0))
    for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
        body.append(lo | (hi << 4))
    return bytes(body)


def _container(rate, blocks, block_align, samples_per_block, fact=None):
    fmt = struct.pack("<HHIIHHHH", 0x0011, 1, rate, 4000, block_align, 4,
                      2, samples_per_block)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if fact is not None:
        body += b"fact" + struct.pack("<I", 4) + struct.pack("<I", fact)
    data = b"".join(blocks)
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_handmade_block_decodes_to_hand_computed_samples():
    """Zero encoder involvement: one block, predictor 100, index 4
    (step 11), nibbles [2, 9] — reconstruction computed by hand from the
    public tables. nibble 2: diff = 11>>3 + 11>>1 = 1+5 = 6 → 106,
    index 4-1=3 (step 10); nibble 9: sign bit + b0 → diff = 10>>3 + 10>>2
    = 1+2 = 3 → 103, index 3-1=2."""
    payload = _container(8000, [_block(100, 4, [2, 9])], 5, 3)
    assert wc.decode_wav(payload) == (8000, [100, 106, 103])


def test_handmade_max_nibble_saturates_and_clamps():
    """nibble 7 at index 88 (step 32767): diff = 4095+8191+16383+32767 =
    61436 → clamps to 32767; index stays 88 (table +8, clamped)."""
    payload = _container(8000, [_block(0, 88, [7, 7])], 5, 3)
    _, samples = wc.decode_wav(payload)
    assert samples == [0, 32767, 32767]
    # and the sign nibble 15 walks it back down by the same magnitude
    payload = _container(8000, [_block(0, 88, [15, 0]), ], 5, 3)
    _, samples = wc.decode_wav(payload)
    assert samples[1] == -32768  # -61436 clamped


def test_roundtrip_tracks_signal_after_adaptation():
    """Encoder→decoder on a smooth signal: block starts are EXACT (the
    header carries the true sample), every reconstructed sample is within
    the step-adaptation envelope, and the tail (post-adaptation) tracks
    tightly."""
    sr = 16000
    samples = [int(9000 * math.sin(i / 12)) for i in range(1500)]
    payload = wc.encode_ima_adpcm(sr, samples, block_frames=505)
    rate, out = wc.decode_wav(payload)
    assert (rate, len(out)) == (sr, len(samples))
    for b in range(0, len(samples), 505):
        assert out[b] == samples[b]  # block headers are exact
    tail_err = max(abs(a - b) for a, b in zip(samples[700:], out[700:]))
    assert tail_err <= 1200  # adapted step bound for this slew rate


def test_roundtrip_is_deterministic_and_fact_truncates():
    sr = 8000
    samples = [((i * 997) % 65536) - 32768 for i in range(73)]
    p1 = wc.encode_ima_adpcm(sr, samples, block_frames=9)
    p2 = wc.encode_ima_adpcm(sr, samples, block_frames=9)
    assert p1 == p2
    _, out = wc.decode_wav(p1)
    # 73 samples over 9-frame blocks = 8 blocks + pad; fact chunk must
    # truncate the padding nibbles away
    assert len(out) == 73


def test_contract_malformed_raises_valueerror_only():
    good = wc.encode_ima_adpcm(8000, [0, 100, -100, 3000], block_frames=5)
    # stereo / wrong bits / bad index / short block / lying fact
    fmt_stereo = struct.pack("<HHIIHHHH", 0x0011, 2, 8000, 4000, 5, 4, 2, 3)
    bad_stereo = (b"RIFF" + struct.pack("<I", 36) + b"WAVE"
                  + b"fmt " + struct.pack("<I", len(fmt_stereo)) + fmt_stereo
                  + b"data" + struct.pack("<I", 5) + bytes(5))
    bad_index = _container(8000, [_block(0, 99, [0, 0])], 5, 3)
    short_block = _container(8000, [b"\x00\x00"], 5, 3)
    lying_fact = _container(8000, [_block(0, 0, [0, 0])], 5, 3, fact=99)
    no_data = (b"RIFF" + struct.pack("<I", 4) + b"WAVE")
    for bad in (bad_stereo, bad_index, short_block, lying_fact, no_data):
        with pytest.raises(ValueError):
            wc.decode_wav(bad)
    # and the audio kernel's dispatch survives all of them (raw-PCM tier)
    from etl_asana_spark.operators.multimodal import _audio_read

    for bad in (bad_stereo, bad_index, short_block, lying_fact, no_data):
        mtype, rate, _ = _audio_read(bad)
        assert (mtype, rate) == ("audio/pcm-u8", 8000)
    # while the good payload takes the REAL decode
    mtype, rate, samples = _audio_read(good)
    assert (mtype, rate) == ("audio/wav", 8000)
    assert samples[0] == 0 and len(samples) == 4


def test_encoder_input_validation():
    with pytest.raises(ValueError):
        wc.encode_ima_adpcm(8000, [])
    with pytest.raises(ValueError):
        wc.encode_ima_adpcm(0, [1, 2])
    with pytest.raises(ValueError):
        wc.encode_ima_adpcm(8000, [1, 2], block_frames=1)
    with pytest.raises(ValueError):
        wc.encode_ima_adpcm(8000, [1, 2], block_frames=4)  # odd nibbles


def test_pcm16_path_is_unchanged():
    """The dispatch change must be invisible to the gate's PCM16 fixtures:
    stdlib-readable payloads decode exactly as before."""
    sr, samples = 12000, [5, -5, 300, -32768, 32767]
    assert wc.decode_wav(wc.encode_wav(sr, samples)) == (sr, samples)


def test_samples_per_block_caps_interior_padding():
    """r08 advice: a conformant encoder may emit blocks whose fmt
    extension says FEWER samples per block than the nibble capacity;
    honoring wSamplesPerBlock must drop the padding nibbles from EVERY
    block, not just the final one (the fact chunk only covers the tail)."""
    # block_align=6 → capacity (6-4)*2+1 = 5; fmt says 3 samples/block.
    blocks = [_block(100, 4, [2, 9, 0, 0]), _block(-50, 0, [1, 8, 0, 0])]
    capped = _container(8000, blocks, 6, 3)
    _, out = wc.decode_wav(capped)
    assert len(out) == 6  # 3 per block, padding nibbles skipped
    # The first block's 3 samples are the hand-computed reconstruction
    # from test_handmade_block_decodes_to_hand_computed_samples.
    assert out[:3] == [100, 106, 103]
    # Full-capacity decode of the same data (spb = capacity) yields the
    # capped stream as a per-block prefix.
    full = _container(8000, blocks, 6, 5)
    _, out_full = wc.decode_wav(full)
    assert len(out_full) == 10
    assert out_full[:3] == out[:3] and out_full[5:8] == out[3:6]


def test_samples_per_block_out_of_range_raises():
    for spb in (0, 6, 99):  # capacity for block_align=6 is 5
        bad = _container(8000, [_block(0, 0, [0, 0, 0, 0])], 6, spb)
        with pytest.raises(ValueError, match="wSamplesPerBlock"):
            wc.decode_wav(bad)


def test_fmt_without_extension_decodes_full_blocks():
    """A bare 16-byte fmt chunk (no cbSize/wSamplesPerBlock) keeps the
    full-block decode — the pre-r09 behavior."""
    fmt = struct.pack("<HHIIHH", 0x0011, 1, 8000, 4000, 5, 4)
    data = _block(100, 4, [2, 9])
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    _, out = wc.decode_wav(payload)
    assert out == [100, 106, 103]


def test_fmt_extension_declared_but_truncated_raises():
    """r09 review: cbSize promising an extension the chunk doesn't carry
    must raise (full-block decode would emit the padding-nibble garbage
    wSamplesPerBlock exists to prevent), not silently decode."""
    fmt18 = struct.pack("<HHIIHHH", 0x0011, 1, 8000, 4000, 5, 4, 2)
    data = _block(100, 4, [2, 9])
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt18)) + fmt18
            + b"data" + struct.pack("<I", len(data)) + data)
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(ValueError, match="extension"):
        wc.decode_wav(payload)


def test_oversized_fmt_chunk_raises_valueerror():
    """A size field of 0xFFFFFFF0 over the fmt chunk header runs the chunk
    past the end of the RIFF chunk and leaves no data chunk to decode:
    ValueError, the decode contract's only rejection class. Both the fmt
    size field itself (offset 16) and the straddling write at offset 13
    (which also corrupts the fourcc) are covered."""
    good = wc.encode_wav(8000, [1, 2, 3, 4, 5])
    for offset in (13, 16):
        bad = bytearray(good)
        bad[offset : offset + 4] = struct.pack("<I", 0xFFFFFFF0)
        with pytest.raises(ValueError):
            wc.decode_wav(bytes(bad))
