"""Baseline JPEG codec verification (r07 — the third real media tier).

Independence layers, mirroring the PNG/WAV discipline:

1. **Math core vs numpy** — the 8×8 IDCT must match an independent
   orthonormal DCT-matrix implementation (numpy, zero shared code) to
   ~1e-9, and DCT∘IDCT must be the identity.
2. **Hand-crafted streams** — minimal JPEGs assembled byte-by-byte in the
   TEST (headers, Annex-K DC/EOB codes hand-encoded as bits) decode to
   hand-computed pixel values. This path shares nothing with the encoder.
3. **Round-trips** — encoder→decoder error is bounded by quantization
   across grayscale / 4:4:4 / 4:2:0 / restart-interval streams.
4. **Dispatch** — operators/multimodal._decode_payload routes real JPEG
   payloads through this decoder (PIL absent), and resize_media
   re-encodes JPEG format-preserving.
"""

from __future__ import annotations

import math
import random
import struct

import pytest

from etl_asana_spark.operators import jpeg_codec as jc
from etl_asana_spark.operators import png_codec


def _mae(a: bytes, b: bytes) -> float:
    assert len(a) == len(b)
    return sum(abs(x - y) for x, y in zip(a, b)) / len(a)


# ---------------------------------------------------------------------------
# 1. math core vs an independent numpy reference
# ---------------------------------------------------------------------------


def test_idct_matches_numpy_orthonormal_reference():
    import numpy as np

    M = np.zeros((8, 8))
    for u in range(8):
        for x in range(8):
            M[u, x] = math.sqrt((1 if u else 0.5) / 4) * math.cos(
                (2 * x + 1) * u * math.pi / 16
            )
    rng = random.Random(1)
    worst = 0.0
    for _ in range(100):
        S = [rng.uniform(-1000, 1000) for _ in range(64)]
        mine = np.array(jc.idct_8x8(S)).reshape(8, 8)
        ref = M.T @ np.array(S).reshape(8, 8) @ M
        worst = max(worst, float(np.abs(mine - ref).max()))
    assert worst < 1e-9, worst


def test_dct_idct_identity():
    rng = random.Random(2)
    for _ in range(50):
        p = [rng.uniform(-128, 127) for _ in range(64)]
        back = jc.idct_8x8(jc.dct_8x8(p))
        assert max(abs(a - b) for a, b in zip(p, back)) < 1e-9


# ---------------------------------------------------------------------------
# 2. hand-crafted minimal streams (no encoder involvement at all)
# ---------------------------------------------------------------------------


def _handmade_gray_jpeg(entropy: bytes) -> bytes:
    """Assemble a 8×8 grayscale baseline JPEG byte-by-byte: unscaled
    Annex-K luma DQT (q[0]=16), Annex-K DC/AC luma Huffman tables, SOF0,
    SOS, then the given hand-encoded entropy bytes."""
    out = bytearray(b"\xff\xd8")
    zz = bytes(jc.QTAB_LUMA[jc.ZIGZAG[i]] for i in range(64))
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zz
    sof = bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    for tcth, (bits, vals) in ((0x00, jc.HUFF_DC_LUMA), (0x10, jc.HUFF_AC_LUMA)):
        body = bytes([tcth]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body
    sos = bytes([1, 1, 0x00, 0x00, 0x3F, 0x00])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)


def test_handmade_dc_zero_decodes_to_flat_128():
    """DC diff 0 (Annex-K DC cat-0 code '00') + EOB ('1010'), padded with
    1s → 0b00101011 = 0x2B. Every pixel must be exactly 128 (zero
    coefficients, +128 level shift)."""
    w, h, bpp, pix = jc.decode_jpeg(_handmade_gray_jpeg(b"\x2b"))
    assert (w, h, bpp) == (8, 8, 1)
    assert set(pix) == {128}


def test_handmade_dc_one_decodes_to_flat_130():
    """DC diff +1: cat-1 code '010' + magnitude bit '1', EOB '1010' →
    0b01011010 = 0x5A. Dequantized DC = 1·16; IDCT of a lone DC is flat
    ¼·(1/√2)(1/√2)·16 = 2 → every pixel exactly 130 (hand-computed)."""
    w, h, bpp, pix = jc.decode_jpeg(_handmade_gray_jpeg(b"\x5a"))
    assert (w, h, bpp) == (8, 8, 1)
    assert set(pix) == {130}


def test_handmade_single_ac_coefficient_matches_cosine():
    """DC 0, then AC (run 0, size 1) with magnitude bit '1', then EOB —
    codes looked up from the public Annex-K table and packed by an
    independent bit-packer in this test (still no encoder involvement).
    The decoded block must equal 128 + q·(the (v=0,u=1) IDCT basis), i.e.
    a horizontal cosine ramp, constant down each column."""
    # build the bitstream: DC cat0, then RS=0x01 (run 0, size 1), bit '1',
    # then EOB — codes taken from the same public Annex-K table the
    # decoder loads, assembled by an independent bit-packer here.
    codes_dc = {}
    code = 0
    k = 0
    bits, vals = jc.HUFF_DC_LUMA
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes_dc[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    codes_ac = {}
    code = 0
    k = 0
    bits, vals = jc.HUFF_AC_LUMA
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes_ac[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1

    stream = []
    for c, ln in (codes_dc[0], codes_ac[0x01], (1, 1), codes_ac[0x00]):
        stream.append((c, ln))
    acc = 0
    nb = 0
    data = bytearray()
    for c, ln in stream:
        for i in range(ln - 1, -1, -1):
            acc = (acc << 1) | ((c >> i) & 1)
            nb += 1
            if nb == 8:
                data.append(acc)
                acc, nb = 0, 0
    if nb:
        data.append((acc << (8 - nb)) | ((1 << (8 - nb)) - 1))

    w, h, bpp, pix = jc.decode_jpeg(_handmade_gray_jpeg(bytes(data)))
    assert (w, h, bpp) == (8, 8, 1)
    # expected: q(0,1)=11 (natural index 1 of Annex-K luma) times the
    # (v=0, u=1) IDCT basis: ¼·(1/√2)·cos((2x+1)π/16)·11 + 128
    for y in range(8):
        for x in range(8):
            want = 128 + 0.25 * (1 / math.sqrt(2)) * math.cos(
                (2 * x + 1) * math.pi / 16
            ) * 11
            got = pix[8 * y + x]
            assert abs(got - want) <= 0.5 + 1e-9, (x, y, got, want)
    # constant down each column (u-only basis)
    for x in range(8):
        assert len({pix[8 * y + x] for y in range(8)}) == 1


# ---------------------------------------------------------------------------
# 3. encoder → decoder round-trips
# ---------------------------------------------------------------------------


def test_roundtrip_grayscale_smooth_gradient():
    w, h = 21, 13
    pix = bytes((x * 7 + y * 5) % 256 for y in range(h) for x in range(w))
    dw, dh, dbpp, dec = jc.decode_jpeg(jc.encode_jpeg(w, h, pix, bpp=1, quality=95))
    assert (dw, dh, dbpp) == (w, h, 1)
    assert _mae(pix, dec) < 1.0


def test_roundtrip_rgb_444_and_420():
    w, h = 18, 10
    pix = bytes(
        ((x * 9 + c * 40) % 256 if c < 2 else (y * 11) % 256)
        for y in range(h)
        for x in range(w)
        for c in range(3)
    )
    dw, dh, dbpp, dec = jc.decode_jpeg(jc.encode_jpeg(w, h, pix, quality=95))
    assert (dw, dh, dbpp) == (w, h, 3)
    assert _mae(pix, dec) < 2.0
    dw, dh, dbpp, dec420 = jc.decode_jpeg(
        jc.encode_jpeg(w, h, pix, quality=95, subsample=True)
    )
    assert (dw, dh, dbpp) == (w, h, 3)
    assert _mae(pix, dec420) < 6.0  # chroma subsampling loss


def test_roundtrip_solid_colors_near_exact():
    for color in ((128, 128, 128), (255, 0, 0), (10, 200, 60)):
        pix = bytes(color[c] for _ in range(64) for c in range(3))
        _, _, _, dec = jc.decode_jpeg(jc.encode_jpeg(8, 8, pix, quality=90))
        assert _mae(pix, dec) < 1.0, color


def test_roundtrip_noise_bounded_by_quantization():
    rng = random.Random(7)
    w = h = 16
    pix = bytes(rng.randrange(256) for _ in range(w * h))
    _, _, _, dec = jc.decode_jpeg(jc.encode_jpeg(w, h, pix, bpp=1, quality=95))
    assert _mae(pix, dec) < 4.0


def test_unsupported_streams_raise_for_tier_fallthrough():
    with pytest.raises(ValueError):
        jc.decode_jpeg(b"\x89PNG not a jpeg")
    # progressive SOF2 must be rejected, not mis-decoded
    prog = bytearray(jc.encode_jpeg(8, 8, bytes(64), bpp=1))
    idx = prog.find(b"\xff\xc0")
    prog[idx + 1] = 0xC2
    with pytest.raises(ValueError):
        jc.decode_jpeg(bytes(prog))
    # truncated entropy data
    full = jc.encode_jpeg(8, 8, bytes(range(64)), bpp=1)
    with pytest.raises(ValueError):
        jc.decode_jpeg(full[: len(full) // 2])


# ---------------------------------------------------------------------------
# 4. kernel dispatch + resize integration
# ---------------------------------------------------------------------------


def test_decode_payload_dispatches_jpeg_tier():
    from etl_asana_spark.operators.multimodal import _decode_payload

    w, h = 9, 6
    pix = bytes((x * 20 + y * 10 + c) % 256 for y in range(h) for x in range(w) for c in range(3))
    payload = jc.encode_jpeg(w, h, pix, quality=95)
    dw, dh, feats = _decode_payload(payload)
    assert (dw, dh) == (w, h)  # stub would return checksum%1920/..%1080
    # features equal the luma signature of the DECODED pixels
    _, _, _, dec = jc.decode_jpeg(payload)
    want = png_codec.luma_signature(w, h, 3, dec)
    assert feats == pytest.approx(want)


def test_resize_media_reencodes_jpeg_format_preserving(spark):
    from etl_asana_spark.operators import multimodal

    df = spark.createDataFrame(
        [(1, "hello jpeg resize", "en", "t", 17)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    media = multimodal.attach_jpeg_payload(df)
    out = multimodal.resize_media(media, 16, 16).collect()
    assert len(out) == 1
    resized = bytes(out[0]["payload"])
    assert jc.is_jpeg(resized)
    w, h, bpp, _ = jc.decode_jpeg(resized)
    assert (w, h, bpp) == (16, 16, 3)


def test_roundtrip_with_restart_intervals():
    """DRI + RSTn markers every 2 MCUs: exercises the decoder's
    byte-align/resync path and predictor resets; pixels must round-trip
    with the same bound as the unrestarted stream (and the stream must
    actually CONTAIN restart markers)."""
    w, h = 40, 24  # 15 MCUs at 4:4:4 → 7 RST markers at interval 2
    pix = bytes((x * 5 + y * 3) % 256 for y in range(h) for x in range(w))
    enc = jc.encode_jpeg(w, h, pix, bpp=1, quality=95, restart_interval=2)
    assert any(
        enc[i] == 0xFF and 0xD0 <= enc[i + 1] <= 0xD7
        for i in range(len(enc) - 1)
    ), "no RST markers emitted"
    dw, dh, dbpp, dec = jc.decode_jpeg(enc)
    assert (dw, dh, dbpp) == (w, h, 1)
    assert _mae(pix, dec) < 1.0


def test_roundtrip_shape_edge_cases():
    """1×1, exact 8×8, and non-multiple dims across all modes."""
    for w, h in ((1, 1), (8, 8), (7, 3), (17, 9)):
        pix1 = bytes((x * 31 + y * 17) % 256 for y in range(h) for x in range(w))
        dw, dh, dbpp, dec = jc.decode_jpeg(jc.encode_jpeg(w, h, pix1, bpp=1, quality=95))
        assert (dw, dh, dbpp, len(dec)) == (w, h, 1, w * h)
        pix3 = bytes(
            (x * 31 + y * 17 + 60 * c) % 256
            for y in range(h) for x in range(w) for c in range(3)
        )
        for sub in (False, True):
            dw, dh, dbpp, dec = jc.decode_jpeg(
                jc.encode_jpeg(w, h, pix3, quality=95, subsample=sub)
            )
            assert (dw, dh, dbpp, len(dec)) == (w, h, 3, w * h * 3)


def test_roundtrip_fuzz_random_images_bounded():
    """Property-style: random dims/quality/mode, decode(encode(x)) always
    returns the exact shape and a quantization-bounded reconstruction
    (smooth ramps so the bound is meaningful at every quality)."""
    rng = random.Random(1234)
    for _ in range(12):
        w, h = rng.randint(1, 33), rng.randint(1, 33)
        bpp = rng.choice([1, 3])
        quality = rng.choice([70, 85, 95])
        sub = bpp == 3 and rng.random() < 0.5
        base = rng.randrange(200)
        pix = bytes(
            (base + x * 2 + y) % 256
            for y in range(h) for x in range(w) for _ in range(bpp)
        )
        enc = jc.encode_jpeg(w, h, pix, bpp=bpp, quality=quality, subsample=sub)
        dw, dh, dbpp, dec = jc.decode_jpeg(enc)
        assert (dw, dh, dbpp, len(dec)) == (w, h, bpp, w * h * bpp)
        assert _mae(pix, dec) < 12.0, (w, h, bpp, quality, sub)


def test_huge_sof_dimensions_raise_value_error_not_memory_error():
    """r07 review finding: a crafted header declaring 65535x65535 must
    raise ValueError BEFORE the ~34 GB plane allocation, keeping the
    kernel dispatch's never-crash tier contract."""
    full = bytearray(jc.encode_jpeg(8, 8, bytes(64), bpp=1))
    idx = full.find(b"\xff\xc0")
    # SOF0 body: len(2) prec(1) h(2) w(2) — overwrite h and w
    full[idx + 5 : idx + 9] = struct.pack(">HH", 65535, 65535)
    with pytest.raises(ValueError):
        jc.decode_jpeg(bytes(full))


def test_fill_bytes_before_markers_are_legal():
    """r07 review finding: T.81 B.1.1.2 allows any number of 0xFF fill
    bytes before a marker code; they must not desync the parse."""
    w, h = 10, 7
    pix = bytes((x * 7 + y * 9) % 256 for y in range(h) for x in range(w))
    enc = jc.encode_jpeg(w, h, pix, bpp=1, quality=95)
    idx = enc.find(b"\xff\xdb")
    padded = enc[:idx] + b"\xff\xff\xff" + enc[idx + 1 :]  # 3 fills + marker
    dw, dh, dbpp, dec = jc.decode_jpeg(padded)
    assert (dw, dh, dbpp) == (w, h, 1)
    assert dec == jc.decode_jpeg(enc)[3]


def test_fill_run_before_stuffed_byte_matches_libjpeg():
    """r08 advice: libjpeg consumes a 0xFF fill run one byte at a time,
    so FF FF 00 inside entropy data decodes as fill + one stuffed 0xFF
    data byte. Accept it for interop (the r07 strict rejection pushed
    real files from lenient encoders onto the stub tier). The plain
    FF 00 stuffing and fill-run-before-marker cases remain legal, and a
    fill run ending in a non-RST marker still raises."""
    r = jc._BitReader(bytes([0xFF, 0x00, 0xAB]), 0)
    assert r.receive(8) == 0xFF  # single stuffed byte: legal
    assert r.receive(8) == 0xAB
    run = jc._BitReader(bytes([0xFF, 0xFF, 0x00, 0xCD]), 0)
    assert run.receive(8) == 0xFF  # fill run + stuffed 0xFF data byte
    assert run.receive(8) == 0xCD
    bad = jc._BitReader(bytes([0xFF, 0xFF, 0xD9]), 0)
    with pytest.raises(ValueError, match="marker"):
        bad.read_bit()


def test_oversized_but_valid_jpeg_is_distinguishable_and_counted():
    """r07 advice: a legitimate >4 MP baseline JPEG must not be
    indistinguishable from a malformed stream. The cap raises the
    DEDICATED JpegTooLarge (still a ValueError, so tier dispatch is
    unchanged) and bumps the per-process TOO_LARGE_SEEN counter so the
    stub degradation is observable."""
    full = bytearray(jc.encode_jpeg(8, 8, bytes(64), bpp=1))
    idx = full.find(b"\xff\xc0")
    full[idx + 5 : idx + 9] = struct.pack(">HH", 3000, 3000)  # 9 MP
    before = jc.TOO_LARGE_SEEN
    with pytest.raises(jc.JpegTooLarge):
        jc.decode_jpeg(bytes(full))
    assert jc.TOO_LARGE_SEEN == before + 1
    assert issubclass(jc.JpegTooLarge, ValueError)
    # Malformed streams keep raising the BASE class, not the subclass.
    try:
        jc.decode_jpeg(b"\xff\xd8\xff\xc2junk")
    except jc.JpegTooLarge:  # pragma: no cover - would be the regression
        raise AssertionError("malformed stream raised JpegTooLarge")
    except ValueError:
        pass


def test_grayscale_frame_with_declared_2x2_sampling_is_noninterleaved():
    """r07 review finding (T.81 A.2): a single-component scan is
    NON-interleaved — raster 8x8 blocks over the component's own grid —
    whatever sampling factors the SOF declares (jpegtran -grayscale keeps
    the source's Y factors). Rewrite a normal grayscale stream's SOF to
    declare 2x2 and assert the decode is unchanged."""
    w, h = 24, 8  # 3 raster blocks; interleaved geometry would want 8
    pix = bytes((x * 3 + y * 11) % 256 for y in range(h) for x in range(w))
    enc = bytearray(jc.encode_jpeg(w, h, pix, bpp=1, quality=95))
    base = jc.decode_jpeg(bytes(enc))[3]
    idx = enc.find(b"\xff\xc0")
    # layout from idx: FFC0 len(2) prec(1) h(2) w(2) nc(1) id(1) hv(1) tq(1)
    assert enc[idx + 11] == 0x11
    enc[idx + 11] = 0x22  # declare 2x2 sampling on the lone component
    dw, dh, dbpp, dec = jc.decode_jpeg(bytes(enc))
    assert (dw, dh, dbpp) == (w, h, 1)
    assert dec == base


def test_media_kernels_never_raise_on_garbage_payloads():
    """Catch-all tier contract: ANY byte string — random garbage, valid
    prefixes of real formats, truncated containers — must flow through the
    image feature dispatch and the frame/audio helpers without raising
    (ValueError-driven fallthrough ends at a total tier for each
    modality). 300 adversarial payloads, seeds disclosed."""
    from etl_asana_spark.operators import avi_codec as ac2
    from etl_asana_spark.operators import wav_codec as wc
    from etl_asana_spark.operators.multimodal import _decode_payload

    rng = random.Random(424242)
    real_png = png_codec.encode_png(5, 4, bytes(range(60)), color_type=2)
    real_jpg = jc.encode_jpeg(5, 4, bytes(range(60)), quality=80)
    real_wav = wc.encode_wav(8000, [1, -2, 3])
    real_avi = ac2.encode_mjpeg_avi([real_jpg], 5, 4)
    seeds_of_truth = [real_png, real_jpg, real_wav, real_avi]

    payloads = []
    for _ in range(200):
        n = rng.randint(1, 400)
        payloads.append(bytes(rng.randrange(256) for _ in range(n)))
    for base in seeds_of_truth:
        for _ in range(25):
            cut = rng.randint(1, len(base))
            mut = bytearray(base[:cut])
            if mut and rng.random() < 0.7:
                mut[rng.randrange(len(mut))] ^= 1 << rng.randrange(8)
            payloads.append(bytes(mut))

    for p in payloads:
        w, h, feats = _decode_payload(p)  # must not raise
        assert len(feats) == 8
        if wc.is_wav(p):
            try:
                wc.decode_wav(p)
            except ValueError:  # the decode contract's one rejection
                pass            # class; the kernel's dispatch catches it
        try:
            ac2.demux_mjpeg_avi(p)
        except ValueError:
            pass
        try:
            jc.decode_jpeg(p)
        except ValueError:
            pass


def test_fill_bytes_before_rst_markers_are_legal():
    """r07 review finding: T.81 B.1.1.2 fill bytes are legal before RST
    markers inside the entropy stream too; inject one before each RSTn of
    a restart-interval stream and the decode must be unchanged."""
    w, h = 40, 24
    pix = bytes((x * 5 + y * 3) % 256 for y in range(h) for x in range(w))
    enc = jc.encode_jpeg(w, h, pix, bpp=1, quality=95, restart_interval=2)
    base = jc.decode_jpeg(enc)[3]
    padded = bytearray()
    i = 0
    n_injected = 0
    while i < len(enc):
        if (
            enc[i] == 0xFF
            and i + 1 < len(enc)
            and 0xD0 <= enc[i + 1] <= 0xD7
        ):
            padded += b"\xff"  # fill byte before the RST marker
            n_injected += 1
        padded.append(enc[i])
        i += 1
    assert n_injected > 0
    assert jc.decode_jpeg(bytes(padded))[3] == base


def test_grayscale_frame_with_declared_4x1_sampling_decodes():
    """r07 review finding: the single-component normalization must run
    BEFORE the 2x2 range check — factors up to 4 are legal per T.81 and
    irrelevant to the non-interleaved raster walk."""
    w, h = 24, 8
    pix = bytes((x * 3 + y * 11) % 256 for y in range(h) for x in range(w))
    enc = bytearray(jc.encode_jpeg(w, h, pix, bpp=1, quality=95))
    base = jc.decode_jpeg(bytes(enc))[3]
    idx = enc.find(b"\xff\xc0")
    assert enc[idx + 11] == 0x11
    enc[idx + 11] = 0x41  # declare 4x1 sampling on the lone component
    dw, dh, dbpp, dec = jc.decode_jpeg(bytes(enc))
    assert (dw, dh, dbpp) == (w, h, 1)
    assert dec == base


def test_illegal_zero_sampling_factor_rejected_even_on_grayscale():
    """r07 review finding: the non-interleaved normalization must not
    silently accept the T.81-illegal factor 0 on a 1-component frame."""
    enc = bytearray(jc.encode_jpeg(8, 8, bytes(64), bpp=1))
    idx = enc.find(b"\xff\xc0")
    enc[idx + 11] = 0x00
    with pytest.raises(ValueError):
        jc.decode_jpeg(bytes(enc))


def test_encoder_and_decoder_share_the_size_envelope():
    """r07 review finding: the codec must never PRODUCE a payload its own
    decoder rejects — both sides cap at the same pure-Python-serviceable
    pixel count."""
    with pytest.raises(ValueError):
        jc.encode_jpeg(3000, 2000, bytes(3000 * 2000), bpp=1)
