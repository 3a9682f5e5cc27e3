"""Pure-stdlib PNG codec (RFC 2083 / ISO 15948) — the dependency-free real
decode path for the multimodal kernels (SURVEY §2.12 #75).

PNG needs nothing beyond ``zlib`` + ``struct``: 8-bit greyscale/RGB/RGBA
images with the five standard scanline filters decode in ~60 lines. This
module is the multimodal kernels' one PNG decoder (dispatch: PNG →
baseline JPEG → stub), and the repo's own fixtures are REAL images — the
decode → feature-extract → resize pipeline runs genuinely end-to-end
(real bytes, real inflate, real unfiltering, real pixel math) in any
environment.

Scope: fixture/fallback grade, deliberately. 8-bit depth, color types 0
(grey), 2 (RGB), 6 (RGBA), no interlacing, no palette — the subset the
encoder below emits and real pipelines' thumbnails overwhelmingly use.

Per-byte Python loops are acceptable here because payloads are small
fixtures and the work runs executor-side inside Arrow batches.
"""

from __future__ import annotations

import struct
import zlib

_SIGNATURE = b"\x89PNG\r\n\x1a\n"
#: bytes per pixel by PNG color type (8-bit depth)
_BPP = {0: 1, 2: 3, 6: 4}


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (filter 4): nearest of left/up/up-left to a+b-c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png(
    width: int,
    height: int,
    pixels: bytes,
    color_type: int = 2,
    filter_type: int = 0,
) -> bytes:
    """Encode raw 8-bit pixel rows into a standards-valid PNG.

    ``pixels`` is ``height`` rows of ``width * bpp`` bytes, top to bottom.
    ``filter_type`` applies the SAME filter to every scanline (0–4) — the
    encoder exists for fixtures and for round-trip-testing the decoder's
    five unfilter paths, so a uniform filter per image is deliberate.
    """
    bpp = _BPP[color_type]
    stride = width * bpp
    if len(pixels) != stride * height:
        raise ValueError(f"expected {stride * height} pixel bytes, got {len(pixels)}")
    if filter_type not in range(5):
        raise ValueError(f"filter_type must be 0..4, got {filter_type}")
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = pixels[y * stride : (y + 1) * stride]
        raw.append(filter_type)
        if filter_type == 0:
            # Fast path: filter None stores the scanline verbatim — no
            # per-byte loop. This is the re-encode path of the resize
            # kernel (224×224×3 ≈ 150 KB per image), where the byte loop
            # was the measured hot spot.
            raw.extend(row)
            prev = row
            continue
        for i in range(stride):
            left = row[i - bpp] if i >= bpp else 0
            up = prev[i]
            upleft = prev[i - bpp] if i >= bpp else 0
            if filter_type == 0:
                v = row[i]
            elif filter_type == 1:
                v = row[i] - left
            elif filter_type == 2:
                v = row[i] - up
            elif filter_type == 3:
                v = row[i] - (left + up) // 2
            else:
                v = row[i] - _paeth(left, up, upleft)
            raw.append(v & 0xFF)
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


def is_png(data: bytes) -> bool:
    return data[:8] == _SIGNATURE


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode a PNG → ``(width, height, bpp, pixel_bytes)``.

    Supports the encoder's subset (8-bit grey/RGB/RGBA, no interlace) and
    ALL five scanline filters — real PNGs from real writers unfilter
    correctly regardless of their per-line filter choices. Raises
    ``ValueError`` on anything outside the subset (the kernel dispatch
    treats that as "not parseable media" and falls through to the stub).
    """
    if not is_png(data):
        raise ValueError("not a PNG (bad signature)")
    try:
        return _decode_png_inner(data)
    except (zlib.error, struct.error) as ex:
        # Normalize to the module's one failure type: callers dispatch on
        # ValueError ("not parseable media -> stub"), and a truncated
        # download or corrupt IDAT must take that path, not crash the
        # batch with a zlib/struct error the dispatch never catches.
        raise ValueError(f"corrupt PNG: {ex}") from ex


def _decode_png_inner(data: bytes) -> tuple[int, int, int, bytes]:
    pos = 8
    width = height = None
    color_type = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated chunk")
        if ctype == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or color_type not in _BPP or interlace != 0:
                raise ValueError(
                    f"unsupported PNG (depth={depth} color={color_type} "
                    f"interlace={interlace})"
                )
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    bpp = _BPP[color_type]
    stride = width * bpp
    raw = zlib.decompress(bytes(idat))
    if len(raw) != (stride + 1) * height:
        raise ValueError("IDAT size does not match dimensions")
    out = bytearray()
    prev = bytearray(stride)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if ftype == 0:
            cur = line
        elif ftype == 1:
            cur = line
            for i in range(stride):
                left = cur[i - bpp] if i >= bpp else 0
                cur[i] = (cur[i] + left) & 0xFF
        elif ftype == 2:
            cur = line
            for i in range(stride):
                cur[i] = (cur[i] + prev[i]) & 0xFF
        elif ftype == 3:
            cur = line
            for i in range(stride):
                left = cur[i - bpp] if i >= bpp else 0
                cur[i] = (cur[i] + (left + prev[i]) // 2) & 0xFF
        elif ftype == 4:
            cur = line
            for i in range(stride):
                left = cur[i - bpp] if i >= bpp else 0
                upleft = prev[i - bpp] if i >= bpp else 0
                cur[i] = (cur[i] + _paeth(left, prev[i], upleft)) & 0xFF
        else:
            raise ValueError(f"unknown scanline filter {ftype}")
        out.extend(cur)
        prev = cur
    return width, height, bpp, bytes(out)


def luma_signature(
    width: int, height: int, bpp: int, pixels: bytes, buckets: int = 8
) -> list[float]:
    """8-bucket horizontal luminance signature in [0, 1] — the same
    (width, height, feat[buckets]) contract as the stub decode kernel:
    greyscale conversion (ITU-R 601 luma for RGB/RGBA) then column-bucket
    means."""
    stride = width * bpp
    sums = [0.0] * buckets
    counts = [0] * buckets
    for y in range(height):
        base = y * stride
        for x in range(width):
            o = base + x * bpp
            if bpp == 1:
                lum = pixels[o]
            else:
                lum = (
                    299 * pixels[o] + 587 * pixels[o + 1] + 114 * pixels[o + 2]
                ) / 1000.0
            b = min(x * buckets // width, buckets - 1)
            sums[b] += lum
            counts[b] += 1
    return [
        (sums[b] / counts[b]) / 255.0 if counts[b] else 0.0 for b in range(buckets)
    ]


def resize_nearest(
    width: int, height: int, bpp: int, pixels: bytes, new_w: int, new_h: int
) -> bytes:
    """Nearest-neighbor resample of raw pixel rows — the pure-Python resize
    kernel (PIL's ``Image.resize`` default is also nearest)."""
    stride = width * bpp
    # Column sample offsets are identical for every output row; distinct
    # source rows number at most ``height`` — build each resampled row once
    # and reuse it (an upscale repeats source rows new_h/height times, so
    # the cache turns an O(new_w * new_h) pixel loop into O(new_w * height)).
    col_offs = [min(x * width // new_w, width - 1) * bpp for x in range(new_w)]
    row_cache: dict[int, bytes] = {}
    out = bytearray()
    for y in range(new_h):
        sy = min(y * height // new_h, height - 1)
        row = row_cache.get(sy)
        if row is None:
            base = sy * stride
            row = b"".join(pixels[base + o : base + o + bpp] for o in col_offs)
            row_cache[sy] = row
        out.extend(row)
    return bytes(out)
