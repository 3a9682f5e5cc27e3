"""Pure-stdlib baseline JPEG (JFIF) decoder + minimal encoder.

The third real media tier (SURVEY §2.12 #75): PNG (round 5, zlib inflate +
unfiltering) and WAV (round 7, RIFF chunk-walk + PCM unpack) are joined by
baseline sequential-DCT JPEG — Huffman entropy decode, dequantization,
8×8 inverse DCT, chroma upsampling, YCbCr→RGB — implemented from the
public JPEG standard (ITU-T T.81 / ISO 10918-1; Huffman tables from Annex
K, JFIF color math from the JFIF spec). No third-party code; everything
below is derived from the published algorithm descriptions.

Scope (deliberate, documented):
- DECODE: baseline DCT (SOF0), 8-bit, 1 or 3 components, any sampling
  factors up to 2×2 (covers 4:4:4, 4:2:2, 4:2:0), restart intervals.
  Progressive (SOF2), arithmetic coding, 12-bit, and CMYK are out of
  scope and raise ValueError — callers dispatch to the next tier.
- ENCODE (fixture generator): 4:4:4 or 4:2:0, Annex-K tables scaled by a
  quality factor, no restart markers.

Verification strategy (tests/test_jpeg_codec.py): the IDCT agrees with an
independent numpy cosine-matrix reference to ~1e-9; hand-crafted DC-only
JPEGs decode to hand-computed pixel values; encoder→decoder round-trips
bound the per-pixel error by the quantization step. This module is the
only JPEG decoder: operators/multimodal.py routes every baseline JPEG
payload (and each MJPEG frame of an AVI) here. No registered catalog key
decodes JPEG or AVI payloads today, so these round-trip tests are the
codec's only check.

Reference-repo note: /root/reference is an empty snapshot (SURVEY §0);
the binding spec is SURVEY §2.12 and the public JPEG standard.
"""

from __future__ import annotations

import math
import struct


class JpegTooLarge(ValueError):
    """A *valid-looking* baseline JPEG whose declared dimensions exceed what
    the pure-Python tier can service (the 4 MP DoS cap below).

    Subclasses ValueError so every existing fall-to-next-tier dispatch is
    unchanged, but callers CAN now distinguish "too large for this tier"
    from "malformed" (r07 advice: a legitimate >4 MP baseline JPEG silently
    degraded to the content-independent stub with no signal). The raise
    site also bumps :data:`TOO_LARGE_SEEN` so oversized-but-valid payloads
    are observable even through dispatchers that only catch ValueError."""


#: Per-process count of payloads rejected by the decode-size cap — an
#: observability counter (executor-local; read it in-process, e.g. from a
#: mapInPandas kernel or a test, not across the cluster).
TOO_LARGE_SEEN = 0

# ---------------------------------------------------------------------------
# Constants from the public standard
# ---------------------------------------------------------------------------

#: Zig-zag scan order: index = zigzag position, value = row-major position.
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

#: Annex K.1 luminance / K.2 chrominance quantization tables (quality 50),
#: row-major order.
QTAB_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
QTAB_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

#: Annex K.3 typical Huffman tables: (BITS[1..16], HUFFVAL) per class/id.
HUFF_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)

#: Precomputed IDCT basis: _COS[u][x] = cos((2x+1)uπ/16) · C(u), where
#: C(0)=1/√2 else 1. idct(S)[y][x] = ¼ ΣΣ _COS[u][x]·_COS[v][y]·S[v][u].
_COS = [
    [
        math.cos((2 * x + 1) * u * math.pi / 16)
        * (1 / math.sqrt(2) if u == 0 else 1.0)
        for x in range(8)
    ]
    for u in range(8)
]


def is_jpeg(payload: bytes) -> bool:
    """SOI marker + a following marker byte — the dispatch signature."""
    return len(payload) >= 4 and payload[:3] == b"\xff\xd8\xff"


# ---------------------------------------------------------------------------
# Huffman machinery
# ---------------------------------------------------------------------------


def _build_huffman(bits: list[int], huffval: list[int]) -> dict[tuple[int, int], int]:
    """Canonical Huffman: {(code_length, code): value} per T.81 C.2."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = huffval[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over an entropy-coded segment with 0xFF00
    byte-unstuffing; stops (raises) at any non-RST marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated entropy data")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            # Legal fill bytes (T.81 B.1.1.2): a run of 0xFF may pad
            # before a marker code; a stuffed data byte is the two-byte
            # sequence FF 00. libjpeg's entropy reader consumes a fill
            # run one FF at a time, so FF FF 00 collapses to fill + a
            # stuffed 0xFF data byte — match that (r08 advice; the r07
            # strict rejection broke real-world files from lenient
            # encoders, degrading them to the stub tier).
            while (
                self.pos < len(self.data) and self.data[self.pos] == 0xFF
            ):
                self.pos += 1
            if self.pos >= len(self.data):
                raise ValueError("truncated after 0xFF fill")
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1  # stuffed byte (any fill run before it)
            elif 0xD0 <= nxt <= 0xD7:
                # RST marker reached while the caller still wants bits:
                # malformed stream (restart alignment is handled by the
                # MCU loop, which calls sync_restart between intervals).
                raise ValueError("unexpected RST marker inside coefficient")
            else:
                raise ValueError(f"unexpected marker 0xFF{nxt:02X} in scan")
        self.bitbuf = (self.bitbuf << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_huffman(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            val = table.get((length, code))
            if val is not None:
                return val
        raise ValueError("invalid Huffman code")

    def sync_restart(self, expected: int) -> None:
        """Byte-align and consume the next RSTn marker."""
        self.bitbuf = 0
        self.nbits = 0
        while self.pos + 1 < len(self.data):
            if self.data[self.pos] == 0xFF and self.data[self.pos + 1] != 0x00:
                marker = self.data[self.pos + 1]
                if marker == 0xFF:  # legal fill byte before the marker
                    self.pos += 1   # (T.81 B.1.1.2; r07 review finding #2)
                    continue
                if 0xD0 <= marker <= 0xD7:
                    if marker - 0xD0 != expected:
                        raise ValueError(
                            f"RST out of order: got {marker - 0xD0}, "
                            f"want {expected}"
                        )
                    self.pos += 2
                    return
                raise ValueError(f"expected RST, got 0xFF{marker:02X}")
            self.pos += 1
        raise ValueError("missing RST marker")


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map a t-bit magnitude to its signed value."""
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


# ---------------------------------------------------------------------------
# IDCT / DCT (float, exact enough for 8-bit at fixture scale)
# ---------------------------------------------------------------------------


def idct_8x8(block: list[float]) -> list[float]:
    """2-D 8×8 inverse DCT (row-major in, row-major out), separable form."""
    # rows of the coefficient block are indexed by v (vertical frequency)
    tmp = [[0.0] * 8 for _ in range(8)]
    for v in range(8):
        row = block[8 * v : 8 * v + 8]
        for x in range(8):
            tmp[v][x] = sum(_COS[u][x] * row[u] for u in range(8))
    out = [0.0] * 64
    for y in range(8):
        for x in range(8):
            out[8 * y + x] = 0.25 * sum(_COS[v][y] * tmp[v][x] for v in range(8))
    return out


def dct_8x8(block: list[float]) -> list[float]:
    """Forward 8×8 DCT matching :func:`idct_8x8` (encoder side)."""
    tmp = [[0.0] * 8 for _ in range(8)]
    for y in range(8):
        row = block[8 * y : 8 * y + 8]
        for u in range(8):
            tmp[y][u] = sum(_COS[u][x] * row[x] for x in range(8))
    out = [0.0] * 64
    for v in range(8):
        for u in range(8):
            out[8 * v + u] = 0.25 * sum(_COS[v][y] * tmp[y][u] for y in range(8))
    return out


def _clamp(v: float) -> int:
    iv = int(round(v))
    return 0 if iv < 0 else 255 if iv > 255 else iv


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def decode_jpeg(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode baseline JPEG → (width, height, bytes_per_pixel, pixels).

    bpp is 1 (grayscale) or 3 (RGB, JFIF YCbCr→RGB). Raises ValueError on
    anything outside the documented baseline subset — INCLUDING truncated
    or garbage streams, which a byte-indexed parser naturally surfaces as
    IndexError/struct.error — so the kernel dispatch's single ValueError
    catch always falls through to the next tier.
    """
    try:
        return _decode_jpeg_inner(payload)
    except (IndexError, struct.error, MemoryError) as exc:
        raise ValueError(f"malformed JPEG stream: {exc}") from exc


def _decode_jpeg_inner(payload: bytes) -> tuple[int, int, int, bytes]:
    if not is_jpeg(payload):
        raise ValueError("not a JPEG (no SOI)")
    qtables: dict[int, list[int]] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None  # (w, h, comps) — comps: [(cid, hsamp, vsamp, qid)]
    restart_interval = 0
    pos = 2
    data = payload

    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"marker sync lost at {pos}")
        # Legal fill bytes: any number of extra 0xFF may pad before a
        # marker code (T.81 B.1.1.2) — skip them, don't parse one as a
        # marker with a bogus length (r07 review finding).
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        if pos + 4 > len(data):
            break
        marker = data[pos + 1]
        if marker == 0xD8:  # stray SOI
            pos += 2
            continue
        if marker == 0xD9:  # EOI before SOS
            raise ValueError("EOI before scan")
        seglen = struct.unpack(">H", data[pos + 2 : pos + 4])[0]
        seg = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                tab = list(seg[i + 1 : i + 65])
                if len(tab) != 64:
                    raise ValueError("short DQT")
                # stored zig-zag; keep natural order internally
                nat = [0] * 64
                for zz, q in enumerate(tab):
                    nat[ZIGZAG[zz]] = q
                qtables[tq] = nat
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1 : i + 17])
                nvals = sum(bits)
                vals = list(seg[i + 17 : i + 17 + nvals])
                tab = _build_huffman(bits, vals)
                (huff_dc if tc == 0 else huff_ac)[th] = tab
                i += 17 + nvals
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if prec != 8:
                raise ValueError("only 8-bit precision")
            if nc not in (1, 3):
                raise ValueError(f"{nc}-component images unsupported")
            # Sanity cap BEFORE any allocation: a crafted header can
            # declare 65535×65535 and the plane allocation would be a
            # ~34 GB MemoryError escaping the ValueError tier contract
            # (r07 review finding). Sized to what the PURE-PYTHON decode
            # can actually service in the kernel's hot path — ~1M
            # idct_8x8 calls for an 8000×8000 frame is minutes of pinned
            # CPU (the DoS sibling of the OOM; r07 review finding #2).
            # Fixtures are ≤16×9; 4 MP leaves real headroom while
            # bounding a hostile payload to ~seconds. Raised as the
            # DEDICATED subclass so callers can tell oversized-but-valid
            # from malformed (r07 advice).
            if w * h > 4_000_000:
                global TOO_LARGE_SEEN
                TOO_LARGE_SEEN += 1
                raise JpegTooLarge(f"frame too large for this tier: {w}x{h}")
            comps = []
            for c in range(nc):
                cid, hv, qid = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, qid))
            frame = (w, h, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"non-baseline SOF 0x{marker:02X} unsupported")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan_sel = []  # (comp_index, dc_id, ac_id)
            for s in range(ns):
                cs, tda = seg[1 + 2 * s], seg[2 + 2 * s]
                idx = next(
                    (i for i, c in enumerate(frame[2]) if c[0] == cs), None
                )
                if idx is None:
                    raise ValueError(f"scan selects unknown component {cs}")
                scan_sel.append((idx, tda >> 4, tda & 0x0F))
            if len(scan_sel) != len(frame[2]):
                raise ValueError("partial scans unsupported (non-baseline)")
            pos = pos + 2 + seglen
            return _decode_scan(
                data, pos, frame, scan_sel, qtables, huff_dc, huff_ac,
                restart_interval,
            )
        # APPn / COM / anything else: skip
        pos += 2 + seglen
    raise ValueError("no SOS marker found")


def _decode_scan(
    data: bytes,
    pos: int,
    frame,
    scan_sel,
    qtables,
    huff_dc,
    huff_ac,
    restart_interval: int,
) -> tuple[int, int, int, bytes]:
    w, h, comps = frame
    if w == 0 or h == 0:
        raise ValueError("zero-dimension frame")
    # T.81 A.2: a scan with ONE component is NON-interleaved — its "MCU"
    # is a single 8×8 data unit in raster order over the component's own
    # block grid, NOT the interleaved hs×vs cluster walk. decode_jpeg
    # already rejects partial scans, so a 1-component scan means a
    # 1-component FRAME, whose lone component spans the full w×h whatever
    # sampling factors the header declares (they are ratios against
    # hmax = its own value). A grayscale frame declaring 2×2 — or 4×1 —
    # sampling (jpegtran -grayscale keeps the source Y factors) decodes
    # garbled or fails under interleaved geometry (r07 review finding):
    # normalize to the equivalent 1×1 layout BEFORE the sampling-range
    # check, which must not apply to factors the raster walk ignores
    # (r07 review finding #2: factors up to 4 are legal per T.81).
    # Declared factors must be in T.81's legal 1..4 range even when the
    # raster walk ignores them (the normalization must not silently
    # accept an illegal factor 0; r07 review finding #3).
    for _, hs, vs, _qid in comps:
        if not (1 <= hs <= 4 and 1 <= vs <= 4):
            raise ValueError(f"illegal sampling factors {hs}x{vs}")
    if len(comps) == 1:
        comps = [(comps[0][0], 1, 1, comps[0][3])]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax > 2 or vmax > 2:
        raise ValueError("sampling factors beyond 2x2 unsupported")
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = (w + mcu_w - 1) // mcu_w
    mcus_y = (h + mcu_h - 1) // mcu_h

    # per-component plane at its own resolution
    planes = []
    for cid, hs, vs, qid in comps:
        pw, ph = mcus_x * hs * 8, mcus_y * vs * 8
        planes.append([0] * (pw * ph))

    reader = _BitReader(data, pos)
    preds = [0] * len(comps)
    mcu_count = 0
    rst_index = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                reader.sync_restart(rst_index)
                rst_index = (rst_index + 1) % 8
                preds = [0] * len(comps)
            for ci, dc_id, ac_id in scan_sel:
                cid, hs, vs, qid = comps[ci]
                q = qtables.get(qid)
                if q is None:
                    raise ValueError(f"missing quant table {qid}")
                dct_tab = huff_dc.get(dc_id)
                act_tab = huff_ac.get(ac_id)
                if dct_tab is None or act_tab is None:
                    raise ValueError("missing Huffman table")
                for by in range(vs):
                    for bx in range(hs):
                        coeffs = [0.0] * 64
                        t = reader.decode_huffman(dct_tab)
                        diff = _extend(reader.receive(t), t)
                        preds[ci] += diff
                        coeffs[0] = preds[ci] * q[0]
                        k = 1
                        while k < 64:
                            rs = reader.decode_huffman(act_tab)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC run past block end")
                            zz = ZIGZAG[k]
                            coeffs[zz] = _extend(reader.receive(s), s) * q[zz]
                            k += 1
                        pix = idct_8x8(coeffs)
                        # place block into the component plane
                        pw = mcus_x * hs * 8
                        ox = (mx * hs + bx) * 8
                        oy = (my * vs + by) * 8
                        plane = planes[ci]
                        for yy in range(8):
                            base = (oy + yy) * pw + ox
                            row = pix[8 * yy : 8 * yy + 8]
                            for xx in range(8):
                                plane[base + xx] = _clamp(row[xx] + 128)
            mcu_count += 1

    # upsample to full resolution and color-convert
    if len(comps) == 1:
        plane = planes[0]
        pw = mcus_x * comps[0][1] * 8
        out = bytearray(w * h)
        for y in range(h):
            out[y * w : (y + 1) * w] = bytes(plane[y * pw : y * pw + w])
        return w, h, 1, bytes(out)

    out = bytearray(w * h * 3)
    pws = [mcus_x * c[1] * 8 for c in comps]
    for y in range(h):
        for x in range(w):
            vals = []
            for ci, (cid, hs, vs, qid) in enumerate(comps):
                sy = y * vs // vmax
                sx = x * hs // hmax
                vals.append(planes[ci][sy * pws[ci] + sx])
            yv, cb, cr = vals
            r = yv + 1.402 * (cr - 128)
            g = yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
            b = yv + 1.772 * (cb - 128)
            o = 3 * (y * w + x)
            out[o] = _clamp(r)
            out[o + 1] = _clamp(g)
            out[o + 2] = _clamp(b)
    return w, h, 3, bytes(out)


# ---------------------------------------------------------------------------
# Encoder (fixture generator: 4:4:4 or 4:2:0, Annex-K tables, no restarts)
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self) -> None:
        if self.nbits:
            self.acc <<= 8 - self.nbits
            self.acc |= (1 << (8 - self.nbits)) - 1  # pad with 1s
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.nbits = 0


def _encode_codes(bits: list[int], huffval: list[int]) -> dict[int, tuple[int, int]]:
    """{value: (code, length)} — inverse of _build_huffman."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _scaled_qtab(base: list[int], quality: int) -> list[int]:
    """IJG quality scaling (public libjpeg convention)."""
    quality = min(max(quality, 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return [min(max((q * scale + 50) // 100, 1), 255) for q in base]


def _magnitude(v: int) -> tuple[int, int]:
    """(size_category, raw_bits) for a signed coefficient per T.81 F.1.2."""
    if v == 0:
        return 0, 0
    a = abs(v)
    t = a.bit_length()
    return t, v if v >= 0 else v + (1 << t) - 1


def encode_jpeg(
    width: int,
    height: int,
    pixels: bytes,
    bpp: int = 3,
    quality: int = 85,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Minimal baseline JFIF encoder: grayscale (bpp=1) or RGB (bpp=3,
    4:4:4 by default, 4:2:0 with ``subsample=True``), Annex-K Huffman
    tables, IJG quality scaling. ``restart_interval`` > 0 emits a DRI
    segment plus RSTn markers every N MCUs (predictors reset) — included
    so the decoder's restart/resync path is testable end-to-end."""
    if bpp not in (1, 3):
        raise ValueError("bpp must be 1 or 3")
    if len(pixels) != width * height * bpp:
        raise ValueError("pixel buffer size mismatch")
    if width == 0 or height == 0:
        raise ValueError("zero-dimension image")
    # Same service envelope as decode_jpeg's cap (r07 review finding #3:
    # an asymmetric bound would let this codec PRODUCE payloads its own
    # decoder rejects, silently downgrading them to the stub tier later).
    # The cap bounds the pure-Python DCT, whose cost grows with the pixel
    # count: a multi-MP frame is minutes of CPU in the kernel's hot path.
    if width * height > 4_000_000:
        raise ValueError(
            f"frame too large for this tier: {width}x{height}"
        )

    qy = _scaled_qtab(QTAB_LUMA, quality)
    qc = _scaled_qtab(QTAB_CHROMA, quality)

    # --- color transform to per-component planes (full resolution)
    if bpp == 1:
        planes = [list(pixels)]
        samps = [(1, 1)]
        qmap = [0]
    else:
        n = width * height
        ys = [0.0] * n
        cbs = [0.0] * n
        crs = [0.0] * n
        for i in range(n):
            r, g, b = pixels[3 * i], pixels[3 * i + 1], pixels[3 * i + 2]
            ys[i] = 0.299 * r + 0.587 * g + 0.114 * b
            cbs[i] = -0.168736 * r - 0.331264 * g + 0.5 * b + 128
            crs[i] = 0.5 * r - 0.418688 * g - 0.081312 * b + 128
        if subsample:
            cw, ch = (width + 1) // 2, (height + 1) // 2

            def box(src):
                out = [0.0] * (cw * ch)
                for yy in range(ch):
                    for xx in range(cw):
                        acc = cnt = 0
                        for dy in (0, 1):
                            for dx in (0, 1):
                                sy, sx = 2 * yy + dy, 2 * xx + dx
                                if sy < height and sx < width:
                                    acc += src[sy * width + sx]
                                    cnt += 1
                        out[yy * cw + xx] = acc / cnt
                return out

            planes = [ys, box(cbs), box(crs)]
            samps = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [ys, cbs, crs]
            samps = [(1, 1), (1, 1), (1, 1)]
        qmap = [0, 1, 1]

    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcus_x = (width + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (height + 8 * vmax - 1) // (8 * vmax)

    # pad each plane (edge replication) to its MCU-aligned size
    padded = []
    for ci, plane in enumerate(planes):
        hs, vs = samps[ci]
        # source-plane dims: only subsampled chroma is half-size
        if ci > 0 and subsample:
            pw0, ph0 = (width + 1) // 2, (height + 1) // 2
        else:
            pw0, ph0 = width, height
        tw, th = mcus_x * hs * 8, mcus_y * vs * 8
        dst = [0.0] * (tw * th)
        for yy in range(th):
            sy = min(yy, ph0 - 1)
            row = plane[sy * pw0 : sy * pw0 + pw0]
            for xx in range(tw):
                dst[yy * tw + xx] = row[min(xx, pw0 - 1)]
        padded.append((dst, tw))

    # --- headers
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HH", 1, 1) + b"\x00\x00"
    for tq, tab in ((0, qy),) + (((1, qc),) if bpp == 3 else ()):
        zz = bytes(tab[ZIGZAG[i]] for i in range(64))
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) + zz
    # SOF0
    nf = 1 if bpp == 1 else 3
    sof = bytes([8]) + struct.pack(">HH", height, width) + bytes([nf])
    for ci in range(nf):
        hs, vs = samps[ci]
        sof += bytes([ci + 1, (hs << 4) | vs, qmap[ci]])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    # DHT ×2 or ×4
    hts = [(0x00, HUFF_DC_LUMA), (0x10, HUFF_AC_LUMA)]
    if bpp == 3:
        hts += [(0x01, HUFF_DC_CHROMA), (0x11, HUFF_AC_CHROMA)]
    for tcth, (bits, vals) in hts:
        body = bytes([tcth]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body
    # SOS
    sos = bytes([nf])
    for ci in range(nf):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    # --- entropy coding
    dc_codes = [_encode_codes(*HUFF_DC_LUMA), _encode_codes(*HUFF_DC_CHROMA)]
    ac_codes = [_encode_codes(*HUFF_AC_LUMA), _encode_codes(*HUFF_AC_CHROMA)]
    qt = [qy, qc]
    bw = _BitWriter()
    preds = [0] * nf
    mcu_count = 0
    rst_index = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if (
                restart_interval
                and mcu_count
                and mcu_count % restart_interval == 0
            ):
                bw.flush()
                bw.out += bytes([0xFF, 0xD0 + rst_index])
                rst_index = (rst_index + 1) % 8
                preds = [0] * nf
            mcu_count += 1
            for ci in range(nf):
                hs, vs = samps[ci]
                plane, pw = padded[ci]
                tabi = 0 if ci == 0 else 1
                q = qt[qmap[ci]]
                for by in range(vs):
                    for bx in range(hs):
                        ox = (mx * hs + bx) * 8
                        oy = (my * vs + by) * 8
                        block = [
                            plane[(oy + yy) * pw + ox + xx] - 128.0
                            for yy in range(8)
                            for xx in range(8)
                        ]
                        co = dct_8x8(block)
                        qz = [
                            int(round(co[ZIGZAG[k]] / q[ZIGZAG[k]]))
                            for k in range(64)
                        ]
                        diff = qz[0] - preds[ci]
                        preds[ci] = qz[0]
                        t, rawbits = _magnitude(diff)
                        code, ln = dc_codes[tabi][t]
                        bw.write(code, ln)
                        if t:
                            bw.write(rawbits, t)
                        # AC: run-length of zeros + size
                        last_nz = 0
                        for k in range(63, 0, -1):
                            if qz[k]:
                                last_nz = k
                                break
                        k = 1
                        while k <= last_nz:
                            run = 0
                            while qz[k] == 0:
                                run += 1
                                k += 1
                            while run > 15:
                                code, ln = ac_codes[tabi][0xF0]  # ZRL
                                bw.write(code, ln)
                                run -= 16
                            t, rawbits = _magnitude(qz[k])
                            code, ln = ac_codes[tabi][(run << 4) | t]
                            bw.write(code, ln)
                            bw.write(rawbits, t)
                            k += 1
                        if last_nz < 63:
                            code, ln = ac_codes[tabi][0x00]  # EOB
                            bw.write(code, ln)
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)
