"""Multimodal (image/audio/video) column plumbing (SURVEY §2.12 #75).

Design: media payloads are opaque ``binary`` columns + a typed metadata
struct, exactly as a 100 TB training pipeline carries them (payload bytes
co-located with row metadata in parquet; heavy decode work happens in
Arrow-batched Python, not the JVM).

Every decode kernel has one implementation per media format, and each is
a pure-stdlib codec, so the kernels run identically in every environment
(no optional PIL/PyAV import can swap in a different decoder) and the
golden fixtures that encode these codecs check the code production runs.
The image kernels dispatch on the payload signature:

1. **PNG** (:mod:`.png_codec`) — a REAL decoder (zlib inflate, scanline
   unfiltering, pixel math) for 8-bit grey/RGB/RGBA PNGs; with
   :func:`attach_png_payload` generating real PNG fixtures, the decode →
   feature-extract → resize pipeline executes genuinely end-to-end.
2. **Baseline JPEG** (:mod:`.jpeg_codec`, round 7) — a REAL decoder
   (Annex-K Huffman entropy decode, dequantization, 8×8 IDCT, chroma
   upsampling, YCbCr→RGB) for baseline sequential-DCT streams up to 2×2
   sampling, incl. restart intervals; progressive/12-bit/CMYK raise and
   fall through.
3. **Deterministic stub** — for non-image payloads (the original text-byte
   fixtures) and formats outside the real paths; preserves every Spark
   aspect of the contract (schema, batch iteration, partitioning, UDF
   signature).

Audio (round 7) has NO fake tier at all: RIFF/WAVE payloads take the real
decode (:func:`.wav_codec.decode_wav` — PCM16 and IMA-ADPCM), and anything
else, including a WAV container that decoder rejects, is read as
headerless raw u8 PCM — itself a real minimal audio interpretation
(:func:`extract_audio_features`).

Frame sampling (r07): the pure-stdlib MJPEG-AVI demux (:mod:`.avi_codec`
+ :mod:`.jpeg_codec` — AVI is RIFF and each '00dc' chunk is a complete
baseline JPEG, so this tier is a REAL demux-and-decode) → deterministic
payload slices for modern codecs, which genuinely need ffmpeg.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..fsutil import local_input_bytes, volume_partitions
from . import avi_codec, jpeg_codec, png_codec, wav_codec


#: Compressed input bytes one Python decode task should own. Below this,
#: a task's fixed cost (scheduling + Arrow channel setup + worker dispatch,
#: paid once per mapInPandas stage per task) exceeds its decode work —
#: measured at sf0.1 (5000 docs, 581 KB parquet, 32-core local): fanning
#: the decode to all 32 cores ran 0.91 s, 8–16 partitions 0.64–0.76 s,
#: 1 partition 1.45 s. 64 KiB/task lands that corpus at 9 partitions —
#: the measured plateau.
_PY_TASK_TARGET_BYTES = 64 * 1024


def decode_partitions(spark, path: str, work_factor: float = 1.0) -> int:
    """Fan-out for a Python-boundary batch decode over the file(s) at
    ``path``: ``min(defaultParallelism, ceil(bytes × work_factor / 64 KiB))``,
    floor 1.

    Never exceeds ``defaultParallelism`` (the pre-r10 behavior, and the
    right answer whenever the input is big enough to feed every core), so
    at scale this is identity; it only pulls the fan-out DOWN when the
    input is too small to amortize per-task fixed costs. ``work_factor``
    scales the estimate for kernels whose per-input-byte compute is a
    multiple of plain decode's (resize decodes, resamples AND re-encodes —
    measured at sf0.1 it still wants the full fan-out where decode-only
    kernels plateau at ~10 partitions). Unprobeable paths (object stores
    this local walk can't see) keep the core count."""
    cores = spark.sparkContext.defaultParallelism
    return volume_partitions(
        local_input_bytes(path) * work_factor, _PY_TASK_TARGET_BYTES,
        1, cores, cores,
    )


#: Output schema of the feature extractor — fixed contract for downstream.
FEATURE_SCHEMA = (
    "doc_id long, media_type string, n_bytes long, "
    "checksum long, width int, height int, feat array<float>"
)


def _synth_pixels(text: str, phase: int = 0) -> tuple[int, int, bytes]:
    """The ONE deterministic text→pixels synthesis shared by every image-
    bearing payload generator (PNG / JPEG / AVI frames): dims from the
    byte length, RGB pixels = the UTF-8 bytes cycled over the grid,
    rotated by ``phase`` bytes (video frames use phase=i). A single
    definition keeps the cross-format "identical source images" invariant
    mechanical instead of copy-paste-enforced (r07 review finding). The
    pure-Python fixture replay in scripts/regen_multimodal_expected.py
    deliberately does NOT import this — it is the independent
    implementation the golden fixtures are checked against."""
    raw = text.encode("utf-8") or b"\x00"
    w = 4 + (len(raw) % 13)
    h = 3 + (len(raw) % 7)
    need = w * h * 3
    if phase:
        raw = raw[phase % len(raw):] + raw[: phase % len(raw)]
    pix = (raw * (need // len(raw) + 1))[:need]
    return w, h, pix


def attach_binary_payload(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Materialize a binary payload + metadata struct from the documents
    table (the testdata carries no real media, so payload bytes are the
    UTF-8 text — byte-for-byte deterministic and size-realistic plumbing).

    Real ingestion path for actual media is ``spark.read.format
    ("binaryFile")`` which yields (path, modificationTime, length, content).
    """
    return docs.select(
        id_col,
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.lit("image/fake").alias("mime"),
            F.length(F.col(text_col)).cast("long").alias("n_bytes"),
            (F.crc32(F.encode(F.col(text_col), "UTF-8")) % 1920).cast("int").alias("width"),
            (F.crc32(F.encode(F.col(text_col), "UTF-8")) % 1080).cast("int").alias("height"),
        ).alias("media_meta"),
    )


def _attach_payload(
    docs: DataFrame, id_col: str, text_col: str, mime: str, fields: str,
    encode: Callable[[int, str], tuple[bytes, dict]],
) -> DataFrame:
    """The one payload generator behind every ``attach_*_payload``: a
    mapInPandas over (id, text) that skips NULL text (no content, no
    payload — the NULL-domain rule) and turns each other row into
    ``(doc_id, payload, media_meta)`` through ``encode(doc_id, text) ->
    (payload, meta)``. ``media_meta`` is ``struct<mime, n_bytes, fields>``:
    ``mime`` and ``n_bytes = len(payload)`` are filled in here, ``meta``
    supplies ``fields`` (a struct field list such as ``"width:int,
    height:int"``)."""
    import pandas as pd

    schema = (
        "doc_id long, payload binary, media_meta "
        f"struct<mime:string, n_bytes:bigint, {fields}>"
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                payload, meta = encode(doc_id, text)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "payload": payload,
                        "media_meta": {
                            "mime": mime, "n_bytes": len(payload), **meta
                        },
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return docs.select(id_col, text_col).mapInPandas(gen, schema=schema)


#: ``media_meta`` fields of the image and video payloads.
_IMAGE_FIELDS = "width:int, height:int"


def attach_png_payload(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Materialize REAL PNG payloads from the documents table: each doc's
    UTF-8 bytes become the pixels of a small RGB PNG (dimensions derived
    from the byte length, scanline filter cycling through all five PNG
    filter types across the corpus), encoded by the pure-stdlib codec.

    Same output contract as :func:`attach_binary_payload`, but the
    payloads parse as genuine images — so :func:`extract_features` /
    :func:`resize_media` run their REAL decode kernels (:mod:`.png_codec`)."""

    def encode(doc_id, text):
        w, h, pix = _synth_pixels(text)
        payload = png_codec.encode_png(
            w, h, pix, color_type=2, filter_type=int(doc_id) % 5
        )
        return payload, {"width": w, "height": h}

    return _attach_payload(
        docs, id_col, text_col, "image/png", _IMAGE_FIELDS, encode
    )


def attach_jpeg_payload(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    subsample: bool = False,
) -> DataFrame:
    """Materialize REAL baseline-JPEG payloads from the documents table —
    same deterministic text→pixels synthesis as :func:`attach_png_payload`
    (so the two formats carry identical source images), encoded by the
    pure-stdlib :mod:`.jpeg_codec` (4:4:4, or 4:2:0 with ``subsample``).
    Same output contract as :func:`attach_binary_payload`."""

    def encode(doc_id, text):
        w, h, pix = _synth_pixels(text)
        payload = jpeg_codec.encode_jpeg(
            w, h, pix, bpp=3, quality=90, subsample=subsample
        )
        return payload, {"width": w, "height": h}

    return _attach_payload(
        docs, id_col, text_col, "image/jpeg", _IMAGE_FIELDS, encode
    )


def attach_avi_payload(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_frames: int = 6,
) -> DataFrame:
    """Materialize REAL MJPEG-AVI video payloads from the documents table:
    each doc becomes a ``n_frames``-frame clip whose frames are the same
    deterministic text→pixels synthesis as :func:`attach_png_payload`,
    phase-shifted per frame (frame i starts at byte offset i), JPEG-encoded
    by :mod:`.jpeg_codec` and muxed by :mod:`.avi_codec`. Same output
    contract as :func:`attach_binary_payload` with video-typed metadata."""
    if n_frames < 1:
        # Guard here, not in the executor loop: with zero frames the dims
        # would be unbound at the mux call and the batch would die with
        # UnboundLocalError instead of a clean error (r07 review finding).
        raise ValueError("n_frames must be >= 1")

    def encode(doc_id, text):
        frames = []
        for i in range(n_frames):
            w, h, pix = _synth_pixels(text, phase=i)
            frames.append(jpeg_codec.encode_jpeg(w, h, pix, bpp=3, quality=90))
        payload = avi_codec.encode_mjpeg_avi(frames, w, h, fps=5)
        return payload, {"width": w, "height": h}

    return _attach_payload(
        docs, id_col, text_col, "video/x-msvideo", _IMAGE_FIELDS, encode
    )


def _decode_payload_stub(payload: bytes) -> tuple[int, int, list[float]]:
    """STUB decode kernel — deterministic fake standing in for a real
    image decoder when the payload is neither a PNG nor a baseline JPEG
    the stdlib codecs decode (e.g. the synthetic text-byte fixtures).

    Returns (width, height, feature_vector). The fake derives 8 'features'
    from byte statistics so tests get stable, content-sensitive values.
    """
    n = len(payload)
    if n == 0:
        raise NotImplementedError(
            "empty payload: real decoder behavior undefined in stub"
        )
    checksum = 0
    for i in range(0, n, max(1, n // 64)):  # bounded sample of the bytes
        checksum = (checksum * 131 + payload[i]) % (1 << 31)
    feats = [float((checksum >> (4 * k)) & 0xFF) / 255.0 for k in range(8)]
    return checksum % 1920, checksum % 1080, feats


def _decode_payload(payload: bytes) -> tuple[int, int, list[float]]:
    """Kernel dispatch (see module docstring): the pure-stdlib PNG decoder
    on a PNG signature → the pure-stdlib baseline JPEG decoder on an SOI
    signature (r07) → deterministic stub."""
    if payload and png_codec.is_png(payload):
        try:
            w, h, bpp, pix = png_codec.decode_png(payload)
            return w, h, png_codec.luma_signature(w, h, bpp, pix)
        except ValueError:  # outside the stdlib subset → stub
            pass
    if payload and jpeg_codec.is_jpeg(payload):
        try:
            w, h, bpp, pix = jpeg_codec.decode_jpeg(payload)
            return w, h, png_codec.luma_signature(w, h, bpp, pix)
        except ValueError:
            # progressive/12-bit/CMYK etc. → stub. JpegTooLarge (a valid
            # stream over the tier's 4 MP DoS cap) lands here too, but is
            # counted at its raise site (jpeg_codec.TOO_LARGE_SEEN) so the
            # degradation is observable, not silent (r07 advice).
            pass
    return _decode_payload_stub(payload)


def extract_features(media: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads (mapInPandas).

    Each Python worker receives whole Arrow batches (payload bytes +
    metadata), decodes, and emits fixed-schema feature rows — the standard
    shape for distributed media preprocessing: partition count controls
    decode parallelism; no driver involvement; spill-free streaming per
    batch.
    """
    import pandas as pd

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload, meta in zip(
                pdf["doc_id"], pdf["payload"], pdf["media_meta"]
            ):
                if payload is None or meta is None:
                    # No payload/metadata (failed upstream fetch): nothing
                    # to decode — skip the row, never crash the batch.
                    continue
                payload = bytes(payload)
                checksum_w, checksum_h, feats = _decode_payload(payload)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "media_type": meta["mime"],
                        "n_bytes": len(payload),
                        "checksum": checksum_w,
                        "width": int(meta["width"]),
                        "height": int(meta["height"]),
                        "feat": feats,
                    }
                )
            if rows:  # empty Arrow batch/partition: yield nothing
                yield pd.DataFrame(rows)

    return media.mapInPandas(decode_batches, schema=FEATURE_SCHEMA)


#: Output schema of the audio feature extractor — ALL-INTEGER features
#: (exact energy/zero-crossing/peak sums), so the oracle comparison has
#: zero float-drift surface (see operators/wav_codec.py).
AUDIO_FEATURE_SCHEMA = (
    "doc_id long, media_type string, n_bytes long, sample_rate int, "
    "n_samples int, duration_ms long, energy long, zero_crossings int, "
    "peak int"
)


def attach_wav_payload(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Materialize REAL RIFF/WAVE payloads from the documents table: each
    doc's UTF-8 bytes become a deterministic PCM16 mono waveform (stdlib
    ``wave`` writer; rate cycles 8/12/16 kHz by doc_id) — the audio
    analogue of :func:`attach_png_payload`, same output contract as
    :func:`attach_binary_payload` with audio-typed metadata."""

    def encode(doc_id, text):
        raw = text.encode("utf-8") or b"\x00"
        n_samples, rate = wav_codec.synth_params(len(raw), int(doc_id))
        payload = wav_codec.encode_wav(
            rate, wav_codec.pcm16_from_bytes(raw, n_samples)
        )
        return payload, {"sample_rate": rate, "n_samples": n_samples}

    return _attach_payload(
        docs, id_col, text_col, "audio/wav",
        "sample_rate:int, n_samples:int", encode,
    )


def _audio_read(payload: bytes) -> tuple[str, int, list[int]]:
    """One payload → (media_type, sample_rate, samples). RIFF/WAVE bytes
    take the REAL decode (:func:`.wav_codec.decode_wav`); anything else —
    including a WAV container the decoder rejects — is read as headerless
    unsigned-8-bit raw PCM at 8 kHz, itself a real (if minimal) audio
    interpretation. The fallback catches ONLY ``ValueError``, the decode
    contract's one rejection class (r07 advice: a bare Exception also
    masked genuine programming errors — TypeError etc. — as raw-PCM
    readings; those must surface)."""
    if wav_codec.is_wav(payload):
        try:
            rate, samples = wav_codec.decode_wav(payload)
            return "audio/wav", rate, samples
        except ValueError:
            pass
    return "audio/pcm-u8", 8000, [(b - 128) * 256 for b in payload]


def extract_audio_features(media: DataFrame) -> DataFrame:
    """Arrow-batched audio decode + integer feature extraction
    (mapInPandas): RIFF/WAVE payloads take the REAL decode (RIFF chunk
    walk + PCM16 unpack or IMA-ADPCM blocks); anything else is interpreted as headerless
    unsigned-8-bit raw PCM at 8 kHz — itself a real (if minimal) audio
    reading, so this kernel has no fake tier at all. Same distributed shape
    as :func:`extract_features`: decode parallelism is partition count, no
    driver involvement."""
    import pandas as pd

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload, meta in zip(
                pdf["doc_id"], pdf["payload"], pdf["media_meta"]
            ):
                if payload is None or meta is None:
                    continue  # failed upstream fetch: skip, never crash
                payload = bytes(payload)
                mtype, rate, samples = _audio_read(payload)
                energy, zc, peak = wav_codec.audio_signature(samples)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "media_type": mtype,
                        "n_bytes": len(payload),
                        "sample_rate": rate,
                        "n_samples": len(samples),
                        "duration_ms": len(samples) * 1000 // rate,
                        "energy": energy,
                        "zero_crossings": zc,
                        "peak": peak,
                    }
                )
            if rows:  # empty Arrow batch/partition: yield nothing
                yield pd.DataFrame(rows)

    return media.mapInPandas(decode_batches, schema=AUDIO_FEATURE_SCHEMA)


#: Output schema of resize — binary stays binary (payload-out plumbing).
RESIZED_SCHEMA = (
    "doc_id long, payload binary, width int, height int, n_bytes long"
)


def resize_media(media: DataFrame, target_w: int = 224, target_h: int = 224) -> DataFrame:
    """Resize kernel over binary payloads (mapInPandas, binary in → binary
    out). PNG and baseline-JPEG payloads are decoded, nearest-neighbor
    resampled and re-encoded in their own format by the stdlib codecs;
    anything else takes the STUB 'resize', which deterministically
    re-scales the byte length by the pixel ratio (so size-dependent
    downstream behavior is realistic).

    Plumbing notes that DO carry to 100 TB: payload-out schemas keep the
    data columnar end-to-end (no driver round-trip), and resize parallelism
    is partition count — repartition upstream if decode-bound.
    """
    import pandas as pd

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload, meta in zip(
                pdf["doc_id"], pdf["payload"], pdf["media_meta"]
            ):
                if payload is None or meta is None:
                    # No payload/metadata (failed upstream fetch): nothing
                    # to decode — skip the row, never crash the batch.
                    continue
                payload = bytes(payload)
                out = None
                if payload and png_codec.is_png(payload):
                    # PNG tier: decode → nearest-neighbor resample →
                    # re-encode (see module docstring).
                    try:
                        w, h, bpp, pix = png_codec.decode_png(payload)
                        out = png_codec.encode_png(
                            target_w,
                            target_h,
                            png_codec.resize_nearest(
                                w, h, bpp, pix, target_w, target_h
                            ),
                            color_type={1: 0, 3: 2, 4: 6}[bpp],
                        )
                    except ValueError:
                        out = None
                if out is None and payload and jpeg_codec.is_jpeg(payload):
                    # JPEG tier (r07): decode → nearest-neighbor
                    # resample → re-encode JPEG (format-preserving).
                    try:
                        w, h, bpp, pix = jpeg_codec.decode_jpeg(payload)
                        out = jpeg_codec.encode_jpeg(
                            target_w,
                            target_h,
                            png_codec.resize_nearest(
                                w, h, bpp, pix, target_w, target_h
                            ),
                            bpp=bpp,
                            quality=90,
                        )
                    except ValueError:
                        out = None
                if out is None:  # stub: re-scale byte length by pixel ratio
                    src_px = max(int(meta["width"]) * int(meta["height"]), 1)
                    ratio = min((target_w * target_h) / src_px, 1.0)
                    new_len = max(int(len(payload) * ratio), 1)
                    out = (payload * (new_len // max(len(payload), 1) + 1))[:new_len]
                rows.append(
                    {
                        "doc_id": doc_id,
                        "payload": out,
                        "width": target_w,
                        "height": target_h,
                        "n_bytes": len(out),
                    }
                )
            if rows:  # empty Arrow batch/partition: yield nothing
                yield pd.DataFrame(rows)

    return media.mapInPandas(resize_batches, schema=RESIZED_SCHEMA)


#: Frame sampling: one input row → k frame rows (one-to-many mapInPandas).
FRAME_SCHEMA = "doc_id long, frame_idx int, frame binary, frame_bytes long"


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame sampling over 'video' payloads: each input row yields
    ``n_frames`` evenly-spaced frame rows. Tier dispatch (r07): the
    pure-stdlib MJPEG-AVI demux (:mod:`.avi_codec` — AVI is RIFF, each
    '00dc' chunk a complete JPEG that :mod:`.jpeg_codec` decodes for real)
    → deterministic payload slices for containers outside that path
    (modern codecs genuinely need ffmpeg). The one-to-many Arrow-batch shape (a single
    ``mapInPandas`` emitting more rows than it reads) is the real
    contract — the fan-out happens executor-side with no explode of
    pre-materialized arrays and no driver involvement.
    """
    import pandas as pd

    if n_frames < 1:
        # Same guard class as attach_avi_payload (r07 review): 0 would be
        # a ZeroDivisionError inside every tier's step computation on the
        # EXECUTOR; negatives would silently emit zero rows per doc.
        raise ValueError("n_frames must be >= 1")

    def _spread(n_avail: int) -> list[int]:
        """Inclusive evenly-spaced indices over ``n_avail`` frames: first
        and last frame are always sampled (r07 advice: the old
        ``max(n_avail // n_frames, 1)`` stride was front-biased — for 10
        frames and n_frames=4 it picked 0,2,4,6 and never saw the tail of
        the clip). For n_frames == 1 the single sample is the first frame."""
        if n_frames == 1:
            return [0]
        return [i * (n_avail - 1) // (n_frames - 1) for i in range(n_frames)]

    def _frames_mjpeg_avi(payload: bytes) -> list[bytes] | None:
        """Real RIFF demux + per-frame JPEG decode, or None when the
        payload is outside this path. Emits raw rgb24 bytes — grayscale
        frames replicate to rgb24 — so every decoded frame has one layout
        (r07 review findings)."""
        if not avi_codec.is_avi(payload):
            return None
        try:
            demuxed = avi_codec.demux_mjpeg_avi(payload)
        except ValueError:
            return None
        if not demuxed:
            return None
        out = []
        for fr in (demuxed[i] for i in _spread(len(demuxed))):
            try:
                w, h, bpp, pix = jpeg_codec.decode_jpeg(fr)
            except ValueError:  # non-baseline MJPEG variant → stub tier
                return None
            if bpp == 1:
                pix = bytes(v for p in pix for v in (p, p, p))
            out.append(bytes(pix))
        return out

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue  # nothing to sample from (see decode_batches)
                payload = bytes(payload)
                if not payload:
                    raise NotImplementedError("empty payload: stub undefined")
                frames = _frames_mjpeg_avi(payload)
                if frames is None:  # stub: deterministic payload slices
                    step = max(len(payload) // n_frames, 1)
                    frames = [
                        payload[i * step : i * step + step] or payload[-step:]
                        for i in range(n_frames)
                    ]
                for i, frame in enumerate(frames):
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "frame_idx": i,
                            "frame": frame,
                            "frame_bytes": len(frame),
                        }
                    )
            if rows:  # empty Arrow batch/partition: yield nothing
                yield pd.DataFrame(rows)

    return media.mapInPandas(frame_batches, schema=FRAME_SCHEMA)
