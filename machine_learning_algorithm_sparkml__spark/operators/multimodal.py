"""Multimodal column plumbing (SURVEY.md §7.4).

Images/audio/video are carried as opaque ``binary`` payload columns
with a typed metadata struct — parquet-native, splittable, and
prunable (readers that only need metadata never touch the bytes).

The codecs are written from scratch with numpy, ``struct`` and the
standard library's ``zlib`` — no codec library: uncompressed BMP,
mono PCM WAV, PNG (truecolor, palette, gray/alpha/16-bit, RGBA,
Adam7-interlaced), GIF with its own LZW, and JPEG (baseline 4:4:4 /
4:2:0 / 4:1:1, restart intervals, progressive, grayscale, 12-bit);
plus container walks that read metadata without decoding samples:
MP4 boxes, FLAC STREAMINFO, MP3 frame headers and Exif IFDs.

Spark sees each codec through ONE of two Arrow-batched paths:

- :func:`encode_codec` builds ``doc_id -> payload`` rows through a
  codec's row in :data:`ENCODERS` (mime, module-level ``doc_id ->
  bytes`` function over a portable md5 fixture) and attaches the
  metadata struct JVM-side;
- :func:`decode_codec` projects payloads through a codec's row in
  :data:`DECODERS` (output schema, module-level ``bytes -> tuple``
  function) to the integer/string columns the DuckDB oracles replay.

Adding a codec key is one row per direction. :func:`decode_media` is
the separate mime-dispatching stub behind ``multimodal_decode``: it
decodes BMP/PNG/GIF/JPEG for real, derives fake dimensions from the
sha256 of other payloads (:func:`decode_stub`), and *raises* on any
other image/audio/video mime rather than faking a decode.
"""

from __future__ import annotations

import functools
import hashlib
import struct
import zlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Output schema of the (stubbed) image decode.
DECODED_SCHEMA = "doc_id long, mime string, width int, height int, n_channels int"

#: Output schema of the (stubbed) feature extractor.
FEATURE_DIM = 16
FEATURES_SCHEMA = "doc_id long, features array<float>"


def _media_meta(payload: Column, mime: str) -> Column:
    """The metadata struct attached to every payload (mime, n_bytes,
    sha256), computed JVM-side."""
    return F.struct(
        F.lit(mime).alias("mime"),
        F.octet_length(payload).alias("n_bytes"),
        F.sha2(payload, 256).alias("sha256"),
    ).alias("media_meta")


def attach_binary_payload(df: DataFrame, id_col: str, text_col: str, *, mime: str = "application/octet-stream") -> DataFrame:
    """Wrap a column as a binary payload + metadata struct. In this
    repo the payload is the utf-8 text bytes (the testdata has no real
    media); in production it is the raw media bytes."""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.select(F.col(id_col), payload.alias("payload"), _media_meta(payload, mime))


def decode_stub(payload: bytes) -> tuple[int, int, int]:
    """STUB decoder: derives (width, height, channels) deterministically
    from the payload's sha256. A real implementation would be e.g.
    ``PIL.Image.open(io.BytesIO(payload)).size``.

    Never called for image/audio/video mimes: :func:`decode_media`
    refuses those it cannot really decode — the fake must never
    masquerade as a real decode."""
    digest = hashlib.sha256(payload).digest()
    width = 64 + digest[0] % 192
    height = 64 + digest[1] % 192
    channels = 1 + digest[2] % 3
    return width, height, channels


def decode_media(df: DataFrame) -> DataFrame:
    """Arrow-batched decode over (doc_id, payload, media_meta) frames.

    ``mapInPandas``: each batch arrives as a pandas DataFrame, the
    decode loop runs per batch, and only the decoded properties leave
    the executor — payload bytes never cross back to the JVM.

    Mimes with a prefix in :data:`_REAL_IMAGE_DECODERS` (BMP, PNG,
    GIF, JPEG) are decoded FOR REAL; other image/audio/video mimes
    raise, so the stub never masquerades as a decode it cannot do."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = []
            for doc_id, payload, meta in zip(pdf["doc_id"], pdf["payload"], pdf["media_meta"]):
                mime = meta["mime"]
                real = next(
                    (v for k, v in _REAL_IMAGE_DECODERS.items() if mime.startswith(k)), None
                )
                if real is not None:
                    decode, n_channels = real
                    w, h, _ = decode(bytes(payload))
                    rows.append((doc_id, mime, w, h, n_channels))
                elif mime.startswith(("image/", "audio/", "video/")):
                    raise NotImplementedError(
                        "real media decoding beyond BMP/PNG/GIF/JPEG is stubbed "
                        "in this environment; swap decode_stub for a codec-backed "
                        "implementation"
                    )
                else:
                    rows.append((doc_id, mime, *decode_stub(payload)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "mime", "width", "height", "n_channels"]
            )

    return df.mapInPandas(_decode, schema=DECODED_SCHEMA)


# --- real uncompressed-BMP codec (no library needed) ---------------------------


def make_bmp(width: int, height: int, pixels: bytes) -> bytes:
    """Serialize a REAL 24-bit uncompressed BMP (BITMAPFILEHEADER +
    BITMAPINFOHEADER, bottom-up rows, rows padded to 4 bytes).
    ``pixels`` is the logical top-down row-major byte array of length
    ``width*height*3``. The output opens in any image viewer — this is
    the actual file format, not a container stub."""
    row_bytes = width * 3
    if len(pixels) != row_bytes * height:
        raise ValueError(f"need {row_bytes * height} pixel bytes, got {len(pixels)}")
    stride = (row_bytes + 3) & ~3
    img_size = stride * height
    offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", offset + img_size, 0, 0, offset)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    pad = b"\x00" * (stride - row_bytes)
    rows = [
        pixels[y * row_bytes : (y + 1) * row_bytes] + pad
        for y in range(height - 1, -1, -1)  # bottom-up storage order
    ]
    return header + info + b"".join(rows)


#: crawl-reality guard shared by every real decoder: a corrupt (or
#: adversarial) header claiming 65535x65535 would otherwise allocate
#: tens of GB before any pixel data is read — executors must refuse
#: decompression-bomb dimensions, not OOM on them. 64 MP (~8k x 8k)
#: is far above any fixture and above the overwhelming mass of crawl
#: images; raising the cap is a one-line policy decision.
_MAX_DECODE_PIXELS = 64_000_000


def _check_decode_dims(w: int, h: int, what: str) -> None:
    if w <= 0 or h <= 0 or w * h > _MAX_DECODE_PIXELS:
        raise ValueError(
            f"refusing {what} dimensions {w}x{h}: corrupt or "
            f"decompression-bomb header (cap {_MAX_DECODE_PIXELS} pixels)"
        )


def decode_bmp(payload: bytes) -> tuple[int, int, np.ndarray]:
    """REAL BMP decode (VERDICT r12 #4 — upgrades the sha-stub): parse
    the file header (magic, pixel-data offset), the info header
    (dimensions, bit depth), then lift the pixel array out of the
    padded bottom-up (or top-down, negative height) row storage with
    numpy stride slicing. Returns (width, height, pixels) where
    ``pixels`` is the logical top-down ``(height, width*3)`` uint8
    array. Only uncompressed 24-bit BMPs are supported — anything else
    raises rather than guessing."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload (missing BM magic)")
    (_file_size, _r1, _r2, offset) = struct.unpack("<IHHI", payload[2:14])
    (hdr_size, width, height, _planes, bpp) = struct.unpack("<IiiHH", payload[14:30])
    (compression,) = struct.unpack("<I", payload[30:34])
    if hdr_size < 40 or bpp != 24 or compression != 0:
        raise ValueError(
            f"unsupported BMP variant (hdr={hdr_size}, bpp={bpp}, "
            f"compression={compression}); only uncompressed 24-bit is decoded"
        )
    top_down = height < 0
    h = abs(height)
    _check_decode_dims(width, h, "BMP")
    row_bytes = width * 3
    stride = (row_bytes + 3) & ~3
    arr = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=offset)
    arr = arr.reshape(h, stride)[:, :row_bytes]
    if not top_down:
        arr = arr[::-1]
    return width, h, arr


def fixture_values(tag: str, doc_id: int, n: int, mod: int = 256) -> list[int]:
    """The deterministic portable fixture every codec key draws from:
    value ``i`` is the md5-60bit parse of ``'<tag>:<doc_id>:<i>'`` mod
    ``mod`` — the same hash family as ``dedup.portable_hash60``, so
    DuckDB regenerates the identical array from generate_series + md5
    and each decoded projection is oracle-checkable (the oracle
    regenerates the bytes the DECODER must recover, so a parser bug
    is a value mismatch, not a silent pass). Every key has its own
    tag, so keys are independent; the tags and moduli are part of the
    oracle contract (``workload/llm.py`` replays them verbatim)."""
    return [
        int(hashlib.md5(f"{tag}:{doc_id}:{i}".encode()).hexdigest()[:15], 16) % mod
        for i in range(n)
    ]


def bmp_dims(doc_id: int) -> tuple[int, int]:
    """Per-doc fixture dimensions: width 5-8 sweeps ALL FOUR row-padding
    classes (w*3 mod 4 = 3,2,1,0 for w=5,6,7,8), height 3-7 varies the
    bottom-up flip depth — so the decoder's padding/flip paths are all
    exercised across any 20 consecutive doc_ids."""
    return 5 + doc_id % 4, 3 + doc_id % 5


def bmp_payload(doc_id: int) -> bytes:
    """REAL BMP of the ``'bmp'`` pixel fixture at :func:`bmp_dims`."""
    w, h = bmp_dims(doc_id)
    return make_bmp(w, h, bytes(fixture_values("bmp", doc_id, w * h * 3)))


def _value_sums(decode: Callable[[bytes], tuple], payload: bytes) -> tuple[int, int, int]:
    """(width, height, exact integer sum of every decoded byte) — the
    oracle-comparable projection of an image decode: the decode runs
    entirely executor-side and only three ints per image cross back
    to the JVM. Bound to a decoder with ``functools.partial`` in
    :data:`DECODERS`."""
    w, h, px = decode(payload)
    return w, h, int(px.astype(np.int64).sum())


# --- real WAV (RIFF/PCM) codec — the audio sibling of the BMP path ------------


def make_wav(sample_rate: int, samples: "np.ndarray", *, comment: bytes = b"spark-graft") -> bytes:
    """Serialize a REAL mono 16-bit PCM WAV (RIFF container: fmt chunk,
    an INFO-style comment chunk, data chunk). The comment chunk is
    deliberately odd-length-capable: RIFF pads odd chunk bodies with
    one byte that is NOT counted in the chunk size, and a parser that
    forgets the pad walks into garbage — so the fixture exercises it."""
    samples = np.asarray(samples, dtype="<i2")
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    chunks = [(b"fmt ", fmt), (b"cmt ", comment), (b"data", data)]
    body = b"WAVE"
    for tag, payload in chunks:
        body += tag + struct.pack("<I", len(payload)) + payload
        if len(payload) % 2:
            body += b"\x00"  # RIFF pad byte, excluded from the size field
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> tuple[int, "np.ndarray"]:
    """REAL WAV decode: verify the RIFF/WAVE magic, then WALK the chunk
    list (arbitrary chunk order and unknown chunks are legal in RIFF —
    a fixed-offset "parser" breaks on any real-world file) honoring the
    odd-size pad byte, pick up fmt and data, and reject anything that
    is not mono 16-bit PCM rather than guessing. Returns
    (sample_rate, int16 sample array)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    # a corrupt RIFF size must not walk past the real payload
    pos, end = 12, min(8 + struct.unpack("<I", payload[4:8])[0], len(payload))
    fmt = data = None
    while pos + 8 <= end:
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if tag == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated WAV fmt chunk")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif tag == b"data":
            data = body
        pos += 8 + size + (size % 2)  # odd chunk bodies carry a pad byte
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    audio_format, n_channels, sample_rate, _brate, _balign, bits = fmt
    if (audio_format, n_channels, bits) != (1, 1, 16):
        raise ValueError(
            f"unsupported WAV variant (format={audio_format}, "
            f"channels={n_channels}, bits={bits}); only mono 16-bit PCM"
        )
    return sample_rate, np.frombuffer(data, dtype="<i2")


def wav_params(doc_id: int) -> tuple[int, int]:
    """Per-doc fixture (sample_rate, n_samples): three standard rates,
    lengths 40-56 (odd and even — an odd sample count makes the data
    chunk even anyway at 16-bit, while the odd-length comment chunk
    exercises the RIFF pad)."""
    return 8000 + (doc_id % 3) * 4000, 40 + doc_id % 17


def wav_payload(doc_id: int) -> bytes:
    """REAL WAV of the ``'wav'`` sample fixture at :func:`wav_params`:
    sample ``i`` is the fixture value mod 65536 shifted to the signed
    int16 range, so DuckDB regenerates the identical signal."""
    rate, n = wav_params(doc_id)
    return make_wav(rate, np.array(fixture_values("wav", doc_id, n, 65536)) - 32768)


def wav_projection(payload: bytes) -> tuple[int, int, int]:
    """(sample_rate, n_samples, amp_sum) of the REAL WAV decode —
    amp_sum is the exact signed sum of every 16-bit sample."""
    rate, samples = decode_wav(payload)
    return rate, len(samples), int(samples.astype(np.int64).sum())


# --- real PNG codec (DEFLATE via stdlib zlib — no external library) ------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    """One PNG chunk: 4-byte big-endian length, tag, body, CRC-32 over
    tag+body (the actual file format's integrity check)."""
    return struct.pack(">I", len(body)) + tag + body + struct.pack(
        ">I", zlib.crc32(tag + body) & 0xFFFFFFFF
    )


def _paeth(a: int, b: int, c: int) -> int:
    """PaethPredictor from the PNG spec (filter type 4): pick whichever
    of left/up/up-left is closest to a+b-c, ties left > up > up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _filter_scanlines(raw: np.ndarray, bpp: int) -> bytes:
    """Forward-filter a (rows, row_bytes) int32 image: scanline ``y``
    gets filter type ``y % 5`` — cycling None/Sub/Up/Average/Paeth, so
    any sub-image of height >= 5 forces a decoder to implement every
    reconstruction in the spec. Shared by the sequential encoders and
    every Adam7 pass (each pass filters as its own sub-image, priors
    never crossing pass boundaries — the spec's rule)."""
    height, row_bytes = raw.shape
    filtered = bytearray()
    prior = np.zeros(row_bytes, dtype=np.int32)
    for y in range(height):
        row = raw[y]
        ftype = y % 5
        left = np.concatenate([np.zeros(bpp, dtype=np.int32), row[:-bpp]])
        ul = np.concatenate([np.zeros(bpp, dtype=np.int32), prior[:-bpp]])
        if ftype == 0:
            out = row
        elif ftype == 1:
            out = row - left
        elif ftype == 2:
            out = row - prior
        elif ftype == 3:
            out = row - (left + prior) // 2
        else:
            pred = np.array(
                [_paeth(int(a), int(b), int(c)) for a, b, c in zip(left, prior, ul)],
                dtype=np.int32,
            )
            out = row - pred
        filtered.append(ftype)
        filtered += (out % 256).astype(np.uint8).tobytes()
        prior = row
    return bytes(filtered)


def _unfilter_scanlines(lines: np.ndarray, bpp: int) -> np.ndarray:
    """Reconstruct a (rows, 1+row_bytes) uint8 filtered block into the
    (rows, row_bytes) int32 image — the inverse of
    :func:`_filter_scanlines`, honoring whatever filter byte each
    scanline declares. Shared by the sequential decoder and every
    Adam7 pass."""
    height, w1 = lines.shape
    row_bytes = w1 - 1
    out = np.zeros((height, row_bytes), dtype=np.int32)
    prior = np.zeros(row_bytes, dtype=np.int32)
    for y in range(height):
        ftype = int(lines[y, 0])
        cur = lines[y, 1:].astype(np.int32)
        if ftype == 0:
            rec = cur
        elif ftype == 2:
            rec = (cur + prior) % 256
        elif ftype in (1, 3, 4):
            # left-dependent filters reconstruct sequentially across x
            rec = np.zeros(row_bytes, dtype=np.int32)
            for x in range(row_bytes):
                a = int(rec[x - bpp]) if x >= bpp else 0
                b = int(prior[x])
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                else:
                    c = int(prior[x - bpp]) if x >= bpp else 0
                    pred = _paeth(a, b, c)
                rec[x] = (int(cur[x]) + pred) % 256
        else:
            raise ValueError(f"unknown scanline filter type {ftype}")
        out[y] = rec
        prior = rec
    return out


#: Adam7 interlace pass grid: (x0, y0, dx, dy) per pass, the spec's
#: 8x8 sampling pattern. Passes whose sub-image is empty for a given
#: image size contribute NO scanlines at all.
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def make_png(width: int, height: int, pixels: bytes) -> bytes:
    """Serialize a REAL 8-bit truecolor PNG (signature, IHDR, a tEXt
    ancillary chunk, IDAT split across two chunks, IEND). ``pixels`` is
    the top-down row-major RGB byte array of length ``width*height*3``.

    Scanline ``y`` is filtered with type ``y % 5`` — cycling
    None/Sub/Up/Average/Paeth — so any image of height ≥ 5 forces the
    DECODER to implement every filter reconstruction in the spec, and
    the IDAT split forces multi-chunk inflate. The output opens in any
    image viewer: DEFLATE is stdlib ``zlib``, this is the actual
    format, not a container stub."""
    bpp = 3
    row_bytes = width * bpp
    if len(pixels) != row_bytes * height:
        raise ValueError(f"need {row_bytes * height} pixel bytes, got {len(pixels)}")
    raw = np.frombuffer(pixels, dtype=np.uint8).reshape(height, row_bytes).astype(np.int32)
    filtered = _filter_scanlines(raw, bpp)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    compressed = zlib.compress(bytes(filtered), 6)
    split = max(1, len(compressed) // 2)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"tEXt", b"Software\x00spark-graft")
        + _png_chunk(b"IDAT", compressed[:split])
        + _png_chunk(b"IDAT", compressed[split:])
        + _png_chunk(b"IEND", b"")
    )


def make_png_interlaced(width: int, height: int, pixels: bytes) -> bytes:
    """Serialize a REAL Adam7-INTERLACED 8-bit truecolor PNG — the
    progressive-rendering layout a slice of real web PNGs carries.
    Each of the seven passes extracts its (x0 + i·dx, y0 + j·dy)
    sample grid, filters it as an independent sub-image (cycling all
    five filters per pass), and the concatenated pass scanlines form
    ONE zlib stream; empty passes (small images) contribute no
    scanlines, exactly the spec's rule."""
    bpp = 3
    if len(pixels) != width * height * bpp:
        raise ValueError(f"need {width * height * bpp} pixel bytes, got {len(pixels)}")
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, bpp).astype(np.int32)
    filtered = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        sub = img[y0::dy, x0::dx, :]
        ph, pw = sub.shape[0], sub.shape[1]
        if ph == 0 or pw == 0:
            continue
        filtered += _filter_scanlines(sub.reshape(ph, pw * bpp), bpp)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 1)
    compressed = zlib.compress(bytes(filtered), 6)
    split = max(1, len(compressed) // 2)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"tEXt", b"Software\x00spark-graft")
        + _png_chunk(b"IDAT", compressed[:split])
        + _png_chunk(b"IDAT", compressed[split:])
        + _png_chunk(b"IEND", b"")
    )


def _make_png_typed(
    width: int, height: int, raw: bytes, color_type: int, bpp: int, depth: int = 8
) -> bytes:
    """Shared serializer for the non-truecolor layouts (gray, RGBA,
    gray+alpha, 16-bit): same filter cycling, chunk layout, and
    two-IDAT split as :func:`make_png`, at the layout's
    bytes-per-pixel (16-bit samples are big-endian pairs in ``raw``)."""
    row_bytes = width * bpp
    if len(raw) != row_bytes * height:
        raise ValueError(f"need {row_bytes * height} bytes, got {len(raw)}")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, row_bytes).astype(np.int32)
    filtered = _filter_scanlines(rows, bpp)
    ihdr = struct.pack(">IIBBBBB", width, height, depth, color_type, 0, 0, 0)
    compressed = zlib.compress(bytes(filtered), 6)
    split = max(1, len(compressed) // 2)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", compressed[:split])
        + _png_chunk(b"IDAT", compressed[split:])
        + _png_chunk(b"IEND", b"")
    )


def make_png_gray(width: int, height: int, gray: bytes) -> bytes:
    """REAL 8-bit GRAYSCALE PNG (color type 0): one byte per pixel
    through the same five-filter cycle."""
    return _make_png_typed(width, height, gray, 0, 1)


def make_png_rgba(width: int, height: int, rgba: bytes) -> bytes:
    """REAL 8-bit RGBA PNG (color type 6) — the most common web PNG
    layout after truecolor: four bytes per pixel, filters at bpp=4."""
    return _make_png_typed(width, height, rgba, 6, 4)


def make_png_gray_alpha(width: int, height: int, ga: bytes) -> bytes:
    """REAL 8-bit GRAY+ALPHA PNG (color type 4): (gray, alpha) byte
    pairs, filters at bpp=2."""
    return _make_png_typed(width, height, ga, 4, 2)


def make_png_gray16(width: int, height: int, gray16_be: bytes) -> bytes:
    """REAL 16-bit GRAYSCALE PNG (color 0, depth 16): big-endian
    sample pairs, filters at bpp=2 — the byte-level filter offset the
    spec mandates for 16-bit."""
    return _make_png_typed(width, height, gray16_be, 0, 2, depth=16)


def make_png_rgb16(width: int, height: int, rgb16_be: bytes) -> bytes:
    """REAL 16-bit TRUECOLOR PNG (color 2, depth 16): big-endian
    R,G,B sample pairs, filters at bpp=6."""
    return _make_png_typed(width, height, rgb16_be, 2, 6, depth=16)


def decode_png(payload: bytes, *, verify_crc: bool = True) -> tuple[int, int, np.ndarray]:
    """REAL PNG decode with no codec library: verify the signature,
    walk the chunk list (CRC-checking each chunk, skipping ancillary
    chunks a fixed-offset reader would trip over), parse IHDR, inflate
    the CONCATENATION of all IDAT chunks (one zlib stream may span
    many chunks), then reconstruct every scanline filter the spec
    defines — None/Sub/Up/Average/Paeth, the inverse of
    :func:`make_png`'s forward filters. Returns (width, height,
    pixels) where ``pixels`` is the top-down ``(height, width*3)``
    uint8 array. 8-bit truecolor (color type 2) and 8-bit PALETTE
    (color type 3 — indexed scanlines filtered at bpp=1, expanded
    through the PLTE table) are decoded; alpha/16-bit/Adam7 raise
    rather than guessing."""
    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload (bad signature)")
    pos = len(_PNG_SIG)
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (size,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        if pos + 12 + size > len(payload):
            raise ValueError(f"truncated PNG {tag!r} chunk")
        body = payload[pos + 8 : pos + 8 + size]
        if verify_crc:
            (crc,) = struct.unpack(">I", payload[pos + 8 + size : pos + 12 + size])
            if crc != (zlib.crc32(tag + body) & 0xFFFFFFFF):
                raise ValueError(f"CRC mismatch in {tag!r} chunk")
        if tag == b"IHDR":
            if size != 13:
                raise ValueError("truncated PNG IHDR chunk (body must be 13 bytes)")
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"PLTE":
            if len(body) % 3 or len(body) > 768:
                raise ValueError("malformed PNG PLTE chunk")
            plte = body
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + size
    if ihdr is None or not idat:
        raise ValueError("missing IHDR or IDAT chunk")
    width, height, depth, color_type, comp, filt, interlace = ihdr
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    depth_ok = depth == 8 or (depth == 16 and color_type in (0, 2))
    if channels is None or not depth_ok or (comp, filt) != (0, 0) or interlace not in (0, 1):
        raise ValueError(
            f"unsupported PNG variant (depth={depth}, color={color_type}, "
            f"interlace={interlace}); 8-bit gray/truecolor/palette/"
            f"gray+alpha/RGBA and 16-bit gray/truecolor, sequential or Adam7"
        )
    if color_type == 3 and plte is None:
        raise ValueError("palette PNG is missing its PLTE chunk")
    _check_decode_dims(width, height, "PNG")
    # the filter byte-per-pixel offset is channels x bytes-per-sample
    # (palette rows carry INDEX bytes, so one "channel")
    bpp = channels * (depth // 8)
    row_bytes = width * bpp
    # streaming-bounded inflate: the header declares exactly how many
    # bytes a legal IDAT stream may produce, so cap the decompressor at
    # that size +1 — a crafted small-IHDR/multi-GB-IDAT bomb stops at
    # the cap instead of exhausting executor memory, and a corrupt
    # DEFLATE stream refuses as ValueError (the decode-or-ValueError
    # contract), never as a raw zlib.error
    if interlace == 1:
        expected = 0
        for ax0, ay0, adx, ady in _ADAM7:
            aph = (height - ay0 + ady - 1) // ady if height > ay0 else 0
            apw = (width - ax0 + adx - 1) // adx if width > ax0 else 0
            if aph and apw:
                expected += aph * (apw * bpp + 1)
    else:
        expected = (row_bytes + 1) * height
    try:
        inflater = zlib.decompressobj()
        raw = inflater.decompress(bytes(idat), expected + 1)
    except zlib.error as exc:
        raise ValueError(f"corrupt PNG IDAT stream: {exc}") from None
    if len(raw) > expected or inflater.unconsumed_tail:
        raise ValueError("PNG IDAT inflates past the declared dimensions")
    if interlace == 1:
        # Adam7: each non-empty pass is an independently-filtered
        # sub-image; unfilter each and scatter its sample grid back
        out = np.zeros((height, width, bpp), dtype=np.int32)
        pos2 = 0
        for x0, y0, dx, dy in _ADAM7:
            ph = (height - y0 + dy - 1) // dy if height > y0 else 0
            pw = (width - x0 + dx - 1) // dx if width > x0 else 0
            if ph == 0 or pw == 0:
                continue
            need = ph * (pw * bpp + 1)
            block = raw[pos2 : pos2 + need]
            if len(block) != need:
                raise ValueError("inflated Adam7 pass data has the wrong length")
            pos2 += need
            lines = np.frombuffer(block, dtype=np.uint8).reshape(ph, pw * bpp + 1)
            out[y0::dy, x0::dx, :] = _unfilter_scanlines(lines, bpp).reshape(ph, pw, bpp)
        if pos2 != len(raw):
            raise ValueError("trailing bytes after the final Adam7 pass")
        out = out.reshape(height, row_bytes)
    else:
        if len(raw) != (row_bytes + 1) * height:
            raise ValueError("inflated scanline data has the wrong length")
        lines = np.frombuffer(raw, dtype=np.uint8).reshape(height, row_bytes + 1)
        out = _unfilter_scanlines(lines, bpp)
    if color_type == 3:
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = out.astype(np.uint8)
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("PNG palette index out of range")
        return width, height, pal[idx].reshape(height, width * 3)
    if depth == 16:
        # 16-bit samples are big-endian byte pairs in the filtered
        # stream; pipelines downsample to 8-bit by taking the high
        # byte (the PNG-recommended 16->8 reduction)
        out = out.astype(np.uint8).reshape(height, width, channels, 2)[..., 0].astype(np.int32)
        out = out.reshape(height, width * channels)
    if color_type == 0:  # grayscale: replicate to RGB (the JPEG rule)
        g = out.astype(np.uint8).reshape(height, width)
        return width, height, np.repeat(g[..., None], 3, axis=-1).reshape(height, width * 3)
    if color_type == 4:  # gray+alpha: composite over white, replicate
        ga = out.reshape(height, width, 2)
        a = ga[..., 1:2]
        g = (ga[..., 0:1] * a + 255 * (255 - a) + 127) // 255
        g = np.clip(g, 0, 255).astype(np.uint8)
        return width, height, np.repeat(g, 3, axis=-1).reshape(height, width * 3)
    if color_type == 6:  # RGBA: straight-alpha composite over white,
        # the browser default for a page background — pipelines that
        # need raw alpha read the pass-through RGBA variant instead
        rgba = out.reshape(height, width, 4)
        a = rgba[..., 3:4]
        rgb = (rgba[..., :3] * a + 255 * (255 - a) + 127) // 255
        return width, height, np.clip(rgb, 0, 255).astype(np.uint8).reshape(height, width * 3)
    return width, height, out.astype(np.uint8)


def png_dims(doc_id: int) -> tuple[int, int]:
    """Per-doc fixture dimensions: height 5-8 keeps every image tall
    enough that the y%5 filter cycle exercises ALL FIVE scanline
    filters in every single file; width 4-8 varies the left-dependency
    run length."""
    return 4 + doc_id % 5, 5 + doc_id % 4


def png_payload(doc_id: int) -> bytes:
    """REAL truecolor PNG of the ``'png'`` pixel fixture at
    :func:`png_dims` (the DEFLATE compression runs executor-side)."""
    w, h = png_dims(doc_id)
    return make_png(w, h, bytes(fixture_values("png", doc_id, w * h * 3)))


# --- real GIF codec (LZW implemented from scratch — no library at all) ---------


def _lzw_compress(indices: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW: codes start at ``min_code_size``+1 bits, the
    dictionary opens with 2^min single-index codes plus CLEAR and END,
    grows one entry per emitted code, widens at 2^width, and resets on
    CLEAR at the 4095-entry ceiling. Output is the LSB-first-packed
    code stream (sub-blocking is the container's job)."""
    clear = 1 << min_code_size
    end = clear + 1
    bits = []

    width = min_code_size + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1

    def emit(code: int) -> None:
        # spec rule, checked BEFORE every emission: the width must fit
        # the largest code that could be emitted (next_code - 1), so
        # widen exactly when next_code reaches 2^width. The decoder
        # mirrors this one-behind (see _lzw_decompress) — the pair was
        # derived together; boundary desync here corrupts every image
        # larger than 254 distinct-prefix additions.
        nonlocal width
        if next_code >= (1 << width) and width < 12:
            width += 1
        for i in range(width):
            bits.append((code >> i) & 1)

    emit(clear)
    prefix = b""
    for b in indices:
        trial = prefix + bytes([b])
        if trial in table:
            prefix = trial
            continue
        emit(table[prefix])
        table[trial] = next_code
        next_code += 1
        if next_code == 4096:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        prefix = bytes([b])
    if prefix:
        emit(table[prefix])
    emit(end)
    out = bytearray()
    for i in range(0, len(bits), 8):
        byte = 0
        for j, bit in enumerate(bits[i : i + 8]):
            byte |= bit << j
        out.append(byte)
    return bytes(out)


def _lzw_decompress(
    data: bytes, min_code_size: int, *, max_output: int | None = None
) -> bytes:
    """Inverse of :func:`_lzw_compress`, including the KwKwK corner
    (a code one past the table references prefix+prefix[0]) and the
    same grow/widen/reset discipline. Raises on malformed streams.
    ``max_output`` bounds the decoded size AS IT ACCUMULATES (callers
    that know the image dimensions pass ``w*h``), so a crafted stream
    that would inflate past the declared dimensions refuses at the cap
    instead of building a multi-GB buffer first."""
    clear = 1 << min_code_size
    end = clear + 1
    pos = 0
    nbits = len(data) * 8

    def read(w: int) -> int:
        nonlocal pos
        v = 0
        for i in range(w):
            v |= ((data[(pos + i) >> 3] >> ((pos + i) & 7)) & 1) << i
        pos += w
        return v

    width = min_code_size + 1
    table = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    prev: bytes | None = None
    while True:
        if pos + width > nbits:
            break  # stream exhausted: legal — encoders may omit END
        code = read(width)
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"LZW code {code} out of range")
        out += entry
        if max_output is not None and len(out) > max_output:
            raise ValueError("LZW stream inflates past the declared dimensions")
        if prev is not None:
            table.append(prev + entry[:1])
        # the decoder's table additions lag the encoder's by exactly
        # one code, so it must widen one entry EARLIER than the
        # encoder's next_code >= 2^width rule: widen as soon as
        # len(table) + 1 reaches 2^width (derived in lockstep with
        # _lzw_compress.emit — the invariant is that the width used to
        # READ code i equals the width used to EMIT it)
        if len(table) + 1 >= (1 << width) and width < 12:
            width += 1
        prev = entry
    return bytes(out)


def make_gif(width: int, height: int, indices: bytes) -> bytes:
    """Serialize a REAL GIF89a (header, logical screen descriptor,
    256-entry grayscale global color table, a comment extension —
    decoders must sub-block-skip it — image descriptor, LZW-compressed
    index data in ≤255-byte sub-blocks, trailer). ``indices`` is the
    top-down row-major palette-index array. The LZW is the real
    dictionary-building compressor, so the decoder's width-growth and
    KwKwK paths are exercised by real data, not a degenerate
    clear-code-spam stream."""
    if len(indices) != width * height:
        raise ValueError(f"need {width * height} indices, got {len(indices)}")
    palette = bytes(v for i in range(256) for v in (i, i, i))
    screen = struct.pack("<HHBBB", width, height, 0xF7, 0, 0)  # GCT, 256 entries
    comment = b"\x21\xfe" + b"\x0bspark-graft" + b"\x00"
    img_desc = struct.pack("<BHHHHB", 0x2C, 0, 0, width, height, 0)
    lzw = _lzw_compress(indices, 8)
    blocks = bytearray([8])  # LZW minimum code size
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return b"GIF89a" + screen + palette + comment + img_desc + bytes(blocks) + b"\x3b"


def _gif_interlace_order(height: int) -> np.ndarray:
    """Display-row index for each STORED row of an interlaced GIF: the
    spec's four passes (rows 0,8,16,…; 4,12,…; 2,6,10,…; 1,3,5,…)."""
    return np.concatenate(
        [np.arange(start, height, step) for start, step in
         ((0, 8), (4, 8), (2, 4), (1, 2))]
    ).astype(np.int64)


def make_gif_interlaced(width: int, height: int, indices: bytes) -> bytes:
    """Interlaced sibling of :func:`make_gif`: the image descriptor
    sets the interlace flag and the rows are stored in the four-pass
    order — the progressive-rendering layout of GIF87a-era web
    images."""
    if len(indices) != width * height:
        raise ValueError(f"need {width * height} indices, got {len(indices)}")
    rows = np.frombuffer(indices, dtype=np.uint8).reshape(height, width)
    stored = rows[_gif_interlace_order(height)].tobytes()
    palette = bytes(v for i in range(256) for v in (i, i, i))
    screen = struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    comment = b"\x21\xfe" + b"\x0bspark-graft" + b"\x00"
    img_desc = struct.pack("<BHHHHB", 0x2C, 0, 0, width, height, 0x40)
    lzw = _lzw_compress(stored, 8)
    blocks = bytearray([8])
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return b"GIF89a" + screen + palette + comment + img_desc + bytes(blocks) + b"\x3b"


def decode_gif(payload: bytes) -> tuple[int, int, np.ndarray]:
    """REAL GIF decode with no library: header check, logical screen
    descriptor, global color table, extension blocks skipped by
    sub-block walking, image descriptor, then from-scratch LZW
    decompression (width growth, CLEAR reset, KwKwK). Returns
    (width, height, indices) with ``indices`` the top-down
    ``(height, width)`` uint8 palette-index array. Interlaced images
    are de-interlaced (the four-pass row scatter); local color tables
    raise rather than guessing. Validated
    against a public hand-crafted 1x1 GIF in tests (external ground
    truth, so an encoder/decoder shared bit-order bug cannot hide in
    the round-trip)."""
    if payload[:6] not in (b"GIF89a", b"GIF87a"):
        raise ValueError("not a GIF payload (bad signature)")
    if len(payload) < 13:
        raise ValueError("truncated GIF (payload shorter than the screen descriptor)")
    sw, sh, packed, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    pos = 13
    if packed & 0x80:
        pos += 3 * (2 << (packed & 0x07))  # skip global color table
    def _at(i: int) -> int:
        if i >= len(payload):
            raise ValueError("truncated GIF (ran off the end of a block)")
        return payload[i]

    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:  # extension: label byte, then sub-blocks
            pos += 2
            while _at(pos) != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:
            if pos + 10 > len(payload):
                raise ValueError("truncated GIF image descriptor")
            left, top, w, h, ipacked = struct.unpack("<HHHHB", payload[pos + 1 : pos + 10])
            _check_decode_dims(w, h, "GIF")
            pos += 10
            if ipacked & 0x80:
                raise ValueError("local color tables are not decoded")
            min_code = _at(pos)
            pos += 1
            lzw = bytearray()
            while _at(pos) != 0:
                n = payload[pos]
                if pos + 1 + n > len(payload):
                    raise ValueError("truncated GIF image sub-block")
                lzw += payload[pos + 1 : pos + 1 + n]
                pos += 1 + n
            indices = _lzw_decompress(bytes(lzw), min_code, max_output=w * h)
            if len(indices) != w * h:
                raise ValueError("decoded index count does not match dimensions")
            rows = np.frombuffer(indices, dtype=np.uint8).reshape(h, w)
            if ipacked & 0x40:
                # interlaced: stored row order is the four GIF passes
                # (every 8th from 0, every 8th from 4, every 4th from
                # 2, every 2nd from 1) — scatter back to display order
                out = np.zeros_like(rows)
                out[_gif_interlace_order(h)] = rows
                rows = out
            return w, h, rows
        elif b == 0x3B:
            break
        else:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
    raise ValueError("no image data block found")


def gif_dims(doc_id: int) -> tuple[int, int]:
    """Per-doc fixture dimensions: 6-9 x 4-8 keeps every image large
    enough (≥24 indices) that the LZW dictionary genuinely grows and
    the code width crosses at least one widening boundary across the
    fixture sweep."""
    return 6 + doc_id % 4, 4 + doc_id % 5


def gif_payload(doc_id: int) -> bytes:
    """REAL GIF of the ``'gif'`` index fixture at :func:`gif_dims`:
    DuckDB regenerates the index array the decoder must recover
    through real LZW compression."""
    w, h = gif_dims(doc_id)
    return make_gif(w, h, bytes(fixture_values("gif", doc_id, w * h)))


def extract_features(df: DataFrame, *, id_col: str = "doc_id", dim: int = FEATURE_DIM) -> DataFrame:
    """Arrow-batched feature extraction stub: a deterministic
    ``dim``-float vector per payload (sha256-seeded). Real version:
    an ONNX/torch forward pass per batch. The Spark contract — batch
    iterator in, fixed-width float arrays out — is identical."""

    def _features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            feats = pdf["payload"].map(lambda p: _payload_features(p, dim))
            yield pd.DataFrame({"doc_id": pdf[id_col], "features": feats})

    return df.mapInPandas(_features, schema=FEATURES_SCHEMA)


def _payload_features(payload: bytes, dim: int) -> list[float]:
    digest = hashlib.sha256(payload).digest()
    raw = (digest * ((dim // len(digest)) + 1))[:dim]
    return [b / 255.0 for b in raw]


def frame_sample(df: DataFrame, *, id_col: str = "doc_id", n_frames: int = 4) -> DataFrame:
    """"Video" frame sampling stub: split the payload into
    ``n_frames`` evenly-spaced byte windows, one row per frame —
    the explode-shaped plumbing a real frame sampler needs (row
    multiplication, per-frame metadata), JVM-side."""
    frame_idx = F.explode(F.sequence(F.lit(0), F.lit(n_frames - 1))).alias("frame_idx")
    n = F.octet_length("payload")
    base = df.select(F.col(id_col), F.col("payload"), frame_idx)
    width = F.greatest(n / n_frames, F.lit(1)).cast("int")
    return base.select(
        id_col,
        "frame_idx",
        F.substring(F.col("payload"), (F.col("frame_idx") * width + 1).cast("int"), width).alias("frame_bytes"),
    )


# --- real JPEG codec (baseline sequential: Huffman + DCT + YCbCr, from scratch) ---

#: Orthonormal 8-point DCT-II basis: F = C @ f @ C.T, f = C.T @ F @ C.
_DCT_C = np.array(
    [
        [
            np.sqrt((1.0 if u == 0 else 2.0) / 8.0)
            * np.cos((2 * x + 1) * u * np.pi / 16.0)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def _zigzag_order() -> list[int]:
    """Raster index visited at each zigzag position (T.81 Figure 5) —
    generated from the diagonal-walk definition instead of a 64-entry
    literal so a typo cannot silently corrupt one coefficient slot."""
    out = []
    for s in range(15):
        rows = range(max(0, s - 7), min(s, 7) + 1)
        for r in rows if s % 2 else reversed(rows):
            out.append(r * 8 + (s - r))
    return out


_ZZ = _zigzag_order()

#: Huffman table specs in the DHT wire format (BITS count per code
#: length 1..16, then symbol values in code order). These are CUSTOM
#: canonical tables — legal because JPEG files DEFINE their tables;
#: the decoder must build whatever DHT declares, exactly as for the
#: Annex K defaults. DC: 12 categories, all 4-bit codes (codes 0..11,
#: the reserved all-ones 1111 unused). AC: EOB, ZRL, then every
#: (run, size) symbol, all 8-bit codes (0..161, all-ones unused).
_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 162, 0, 0, 0, 0, 0, 0, 0, 0]
_AC_VALS = [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)]

#: Quantization tables. The DC entry is 8 ON PURPOSE: a flat 8x8 block
#: of value v has exactly one nonzero coefficient, DC = 8*(v-128), and
#: 8 | 8*(v-128), so quantize->dequantize->IDCT reconstructs v BIT
#: EXACTLY — which is what makes a lossy format oracle-checkable: the
#: fixture below is flat-per-block, so DuckDB regenerates the exact
#: bytes the decoder must recover through real entropy coding. AC
#: entries never matter for flat blocks (the coefficients are 0).
_Q_LUMA = np.full((8, 8), 16, dtype=np.int32)
_Q_LUMA[0, 0] = 8
_Q_CHROMA = np.full((8, 8), 24, dtype=np.int32)
_Q_CHROMA[0, 0] = 8


def _canonical_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) by the spec's canonical assignment
    (T.81 Annex C): within a length codes count up; doubling the
    running code moves to the next length."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _decode_table(bits: list[int], values: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, the decoder-side view of the same
    canonical assignment (built from DHT bytes at decode time)."""
    return {(ln, code): sym for sym, (code, ln) in _canonical_codes(bits, values).items()}


class _BitWriter:
    """MSB-first bit packer with JPEG byte stuffing (0xFF -> 0xFF 0x00)
    and the spec's 1-bit padding on flush."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)
                self.acc = 0
                self.n = 0

    def flush(self) -> bytes:
        while self.n:
            self.write(1, 1)
        return bytes(self.buf)

    def restart(self, m: int) -> None:
        """Byte-align with 1-bit padding (stuffed like any entropy
        byte, per T.81 §F.1.2.3) and emit RSTm. Markers are raw — no
        stuffing after the 0xFF of the marker itself."""
        while self.n:
            self.write(1, 1)
        self.buf += bytes([0xFF, 0xD0 + (m & 7)])


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment: un-stuffs
    0xFF 0x00 and treats any other 0xFF-marker mid-stream as an error —
    restart markers are consumed explicitly via :meth:`expect_restart`
    at interval boundaries, never from inside ``bit()``."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG entropy stream")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data):
                    raise ValueError("truncated JPEG entropy stream")
                if self.data[self.pos] != 0x00:
                    raise ValueError("unexpected marker inside JPEG entropy stream")
                self.pos += 1
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def expect_restart(self, m: int) -> None:
        """Consume the RSTm marker at a restart boundary (T.81
        §E.1.4): discard the current byte's padding bits (the encoder
        1-padded to the boundary; if that padding completed an 0xFF
        the stuffed 0x00 was already skipped when the byte loaded),
        then require the exact in-sequence marker — restart markers
        carry a 3-bit counter precisely so a decoder can detect loss."""
        self.n = 0
        want = bytes([0xFF, 0xD0 + (m & 7)])
        got = self.data[self.pos : self.pos + 2]
        if got != want:
            raise ValueError(
                f"JPEG restart marker missing or out of sequence: "
                f"expected {want.hex()} got {got.hex()}"
            )
        self.pos += 2


def _huff_read(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in JPEG stream")


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _encode_block(
    bw: _BitWriter,
    zz: np.ndarray,
    pred: int,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
) -> int:
    """Entropy-code one zigzag-ordered quantized block; returns its DC
    for the next block's differential prediction."""
    diff = int(zz[0]) - pred
    s = _category(diff)
    code, ln = dc_codes[s]
    bw.write(code, ln)
    if s:
        bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    nz = np.nonzero(zz[1:])[0]
    last = int(nz[-1]) if len(nz) else -1
    run = 0
    for i in range(last + 1):
        c = int(zz[1 + i])
        if c == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]
            bw.write(code, ln)
            run -= 16
        s = _category(c)
        code, ln = ac_codes[(run << 4) | s]
        bw.write(code, ln)
        bw.write(c if c >= 0 else c + (1 << s) - 1, s)
        run = 0
    if last < 62:
        code, ln = ac_codes[0x00]
        bw.write(code, ln)
    return int(zz[0])


def _decode_block(
    br: _BitReader,
    dc_tbl: dict[tuple[int, int], int],
    ac_tbl: dict[tuple[int, int], int],
    pred: int,
    *,
    max_dc_cat: int = 11,
    max_ac_cat: int = 10,
) -> tuple[np.ndarray, int]:
    """Decode one block to zigzag-ordered coefficients; returns the
    coefficients and the resolved DC (next block's prediction).
    Categories are validated against the precision's bounds in T.81
    Table F.1 (8-bit: DC <= 11, AC <= 10; 12-bit: DC <= 15,
    AC <= 14): a corrupt DHT can declare arbitrary symbol bytes, and
    an unvalidated category feeds EXTEND with up to 255 bits — an
    integer bomb, not a coefficient."""
    s = _huff_read(br, dc_tbl)
    if s > max_dc_cat:
        raise ValueError("corrupt JPEG DC category")
    diff = 0
    if s:
        v = br.bits(s)
        diff = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
    dc = pred + diff
    # int64: a corrupt stream can chain max-magnitude DC differentials
    # across up to 1M blocks (the pixel cap), overflowing int32 pred
    # accumulation even with per-step bounds
    zz = np.zeros(64, dtype=np.int64)
    zz[0] = dc
    k = 1
    while k < 64:
        sym = _huff_read(br, ac_tbl)
        if sym == 0x00:
            break
        if sym == 0xF0:
            k += 16
            continue
        run, s = sym >> 4, sym & 0x0F
        k += run
        if k > 63 or s == 0 or s > max_ac_cat:
            raise ValueError("corrupt JPEG AC coefficient run")
        v = br.bits(s)
        zz[k] = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
        k += 1
    return zz, dc


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def make_jpeg(
    width: int,
    height: int,
    pixels: bytes,
    *,
    subsampling: str = "4:4:4",
    restart_interval: int = 0,
) -> bytes:
    """Serialize a REAL baseline sequential JFIF JPEG (SOI, APP0, a COM
    segment the decoder must skip, one DQT holding BOTH quant tables,
    SOF0, one DHT holding all FOUR Huffman tables, SOS, entropy-coded
    data with byte stuffing, EOI). ``pixels`` is the top-down row-major
    RGB byte array; dimensions must be multiples of 8 — of 16 for
    4:2:0 — (this encoder does no edge padding; the DECODER handles
    non-multiple dims by MCU-cover + crop, like real files need).

    ``restart_interval`` > 0 emits a DRI segment and the T.81 §E.1.4
    restart discipline real crawl JPEGs carry: after every
    ``restart_interval`` MCUs (except the last) the entropy stream is
    1-bit-padded to a byte boundary, an RSTm marker (m cycling 0..7)
    is written, and all DC predictors reset to 0.

    The full pipeline runs: RGB->YCbCr, optional 2x2 chroma
    downsampling, per-block forward DCT, quantization, zigzag,
    differential-DC + run-length-AC canonical Huffman coding across
    interleaved MCUs (1x1x1 for 4:4:4; the 4-Y+Cb+Cr macroblock order
    of T.81 §A.2.3 for 4:2:0 — what nearly every web JPEG uses).
    The output opens in any image viewer."""
    if len(pixels) != width * height * 3:
        raise ValueError(f"need {width * height * 3} pixel bytes, got {len(pixels)}")
    rgb = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, 3).astype(np.float64)
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = np.clip(np.round(0.299 * r + 0.587 * g + 0.114 * b), 0, 255)
    cb = np.clip(np.round(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0), 0, 255)
    cr = np.clip(np.round(0.5 * r - 0.418688 * g - 0.081312 * b + 128.0), 0, 255)
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)
    bw = _BitWriter()
    preds = [0, 0, 0]

    def _code_block(plane: np.ndarray, r0: int, c0: int, qtab: np.ndarray, ci: int) -> None:
        blk = plane[r0 : r0 + 8, c0 : c0 + 8] - 128.0
        fq = np.round((_DCT_C @ blk @ _DCT_C.T) / qtab).astype(np.int32)
        preds[ci] = _encode_block(bw, fq.reshape(64)[_ZZ], preds[ci], dc_codes, ac_codes)

    rst_m = 0

    def _end_mcu(mcu_idx: int, n_mcus: int) -> None:
        nonlocal rst_m
        if (
            restart_interval
            and mcu_idx + 1 < n_mcus
            and (mcu_idx + 1) % restart_interval == 0
        ):
            bw.restart(rst_m)
            rst_m = (rst_m + 1) & 7
            preds[0] = preds[1] = preds[2] = 0

    if subsampling == "4:4:4":
        if width % 8 or height % 8:
            raise ValueError("make_jpeg 4:4:4 requires multiple-of-8 dimensions")
        n_mcus = (height // 8) * (width // 8)
        for by in range(height // 8):
            for bx in range(width // 8):
                for ci, (plane, qtab) in enumerate(
                    [(y, _Q_LUMA), (cb, _Q_CHROMA), (cr, _Q_CHROMA)]
                ):
                    _code_block(plane, by * 8, bx * 8, qtab, ci)
                _end_mcu(by * (width // 8) + bx, n_mcus)
        sof_comps = bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1])
    elif subsampling == "4:2:0":
        if width % 16 or height % 16:
            raise ValueError("make_jpeg 4:2:0 requires multiple-of-16 dimensions")
        # 2x2-mean chroma downsample (the standard reduction; exact on
        # flat macroblocks, which is what keeps the fixture bit-exact)
        cb_s = np.round(cb.reshape(height // 2, 2, width // 2, 2).mean(axis=(1, 3)))
        cr_s = np.round(cr.reshape(height // 2, 2, width // 2, 2).mean(axis=(1, 3)))
        n_mcus = (height // 16) * (width // 16)
        for my in range(height // 16):
            for mx in range(width // 16):
                for v_ in range(2):
                    for h_ in range(2):
                        _code_block(y, (my * 2 + v_) * 8, (mx * 2 + h_) * 8, _Q_LUMA, 0)
                _code_block(cb_s, my * 8, mx * 8, _Q_CHROMA, 1)
                _code_block(cr_s, my * 8, mx * 8, _Q_CHROMA, 2)
                _end_mcu(my * (width // 16) + mx, n_mcus)
        sof_comps = bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1])
    elif subsampling == "4:1:1":
        if width % 32 or height % 8:
            raise ValueError(
                "make_jpeg 4:1:1 requires width multiple of 32, height of 8"
            )
        # 4x1-mean chroma downsample (exact on horizontally-flat runs;
        # T.81 §A.2.3 MCU = 4 horizontal Y blocks + Cb + Cr)
        cb_s = np.round(cb.reshape(height, width // 4, 4).mean(axis=2))
        cr_s = np.round(cr.reshape(height, width // 4, 4).mean(axis=2))
        n_mcus = (height // 8) * (width // 32)
        for my in range(height // 8):
            for mx in range(width // 32):
                for h_ in range(4):
                    _code_block(y, my * 8, (mx * 4 + h_) * 8, _Q_LUMA, 0)
                _code_block(cb_s, my * 8, mx * 8, _Q_CHROMA, 1)
                _code_block(cr_s, my * 8, mx * 8, _Q_CHROMA, 2)
                _end_mcu(my * (width // 32) + mx, n_mcus)
        sof_comps = bytes([1, 0x41, 0, 2, 0x11, 1, 3, 0x11, 1])
    else:
        raise ValueError(f"unsupported subsampling {subsampling!r}")

    def _zz_bytes(q: np.ndarray) -> bytes:
        return bytes(int(q.reshape(64)[_ZZ[z]]) for z in range(64))

    dqt = _seg(0xDB, b"\x00" + _zz_bytes(_Q_LUMA) + b"\x01" + _zz_bytes(_Q_CHROMA))
    sof = _seg(0xC0, struct.pack(">BHHB", 8, height, width, 3) + sof_comps)
    dht = _seg(
        0xC4,
        b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS)
        + b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS)
        + b"\x01" + bytes(_DC_BITS) + bytes(_DC_VALS)
        + b"\x11" + bytes(_AC_BITS) + bytes(_AC_VALS),
    )
    sos = _seg(0xDA, b"\x03" + bytes([1, 0x00, 2, 0x11, 3, 0x11]) + b"\x00\x3f\x00")
    app0 = _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    com = _seg(0xFE, b"spark-graft")
    dri = _seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    return (
        b"\xff\xd8" + app0 + com + dqt + sof + dht + dri + sos + bw.flush() + b"\xff\xd9"
    )


def make_jpeg_gray(
    width: int, height: int, gray: bytes, *, restart_interval: int = 0
) -> bytes:
    """REAL single-component (grayscale) baseline JPEG — the scanned-
    document/thumbnail layout: one luma component, luma tables only,
    1-block MCUs. ``gray`` is the top-down row-major single-channel
    byte array; dimensions must be multiples of 8. The decoder's
    1-component path replicates Y to RGB."""
    if len(gray) != width * height:
        raise ValueError(f"need {width * height} gray bytes, got {len(gray)}")
    if width % 8 or height % 8:
        raise ValueError("make_jpeg_gray requires multiple-of-8 dimensions")
    y = np.frombuffer(gray, dtype=np.uint8).reshape(height, width).astype(np.float64)
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)
    bw = _BitWriter()
    pred = 0
    rst_m = 0
    n_mcus = (height // 8) * (width // 8)
    for by in range(height // 8):
        for bx in range(width // 8):
            blk = y[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
            fq = np.round((_DCT_C @ blk @ _DCT_C.T) / _Q_LUMA).astype(np.int32)
            pred = _encode_block(bw, fq.reshape(64)[_ZZ], pred, dc_codes, ac_codes)
            mcu_idx = by * (width // 8) + bx
            if (
                restart_interval
                and mcu_idx + 1 < n_mcus
                and (mcu_idx + 1) % restart_interval == 0
            ):
                bw.restart(rst_m)
                rst_m = (rst_m + 1) & 7
                pred = 0

    def _zz_bytes(q: np.ndarray) -> bytes:
        return bytes(int(q.reshape(64)[_ZZ[z]]) for z in range(64))

    dqt = _seg(0xDB, b"\x00" + _zz_bytes(_Q_LUMA))
    sof = _seg(0xC0, struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0]))
    dht = _seg(
        0xC4,
        b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS)
        + b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS),
    )
    sos = _seg(0xDA, b"\x01" + bytes([1, 0x00]) + b"\x00\x3f\x00")
    app0 = _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    dri = _seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    return b"\xff\xd8" + app0 + dqt + sof + dht + dri + sos + bw.flush() + b"\xff\xd9"


#: 12-bit tables (T.81 Table F.1's 12-bit column): DC differences span
#: categories 0..15 — sixteen 5-bit codes (canonical all-ones at
#: length 5 is code 31, unused); AC sizes run 1..14 — EOB + ZRL +
#: 16x14 (run, size) symbols = 226 eight-bit codes (all-ones unused).
_DC12_BITS = [0, 0, 0, 0, 16, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_DC12_VALS = list(range(16))
_AC12_BITS = [0, 0, 0, 0, 0, 0, 0, 226, 0, 0, 0, 0, 0, 0, 0, 0]
_AC12_VALS = [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 15)]


def make_jpeg12(
    width: int, height: int, samples12: "np.ndarray", *, restart_interval: int = 0
) -> bytes:
    """REAL 12-bit-precision extended-sequential JPEG (SOF1) — the
    medical/scanned-archive layout and the last Huffman-coded
    refusal (VERDICT r15 #8): single luma component at 12-bit sample
    depth, level shift 2048, DC categories up to 15, and a 16-BIT
    quantization table (Pq=1 — legal only above 8-bit precision).
    ``samples12`` is the top-down row-major array of ints in 0..4095;
    dimensions must be multiples of 8. Same bit-exactness argument as
    every JPEG fixture: the DC quant step of 8 divides a flat block's
    8*(v-2048)."""
    samples12 = np.asarray(samples12, dtype=np.int64).reshape(height, width)
    if width % 8 or height % 8:
        raise ValueError("make_jpeg12 requires multiple-of-8 dimensions")
    if samples12.min() < 0 or samples12.max() > 4095:
        raise ValueError("12-bit samples must be in 0..4095")
    y = samples12.astype(np.float64)
    dc_codes = _canonical_codes(_DC12_BITS, _DC12_VALS)
    ac_codes = _canonical_codes(_AC12_BITS, _AC12_VALS)
    bw = _BitWriter()
    pred = 0
    rst_m = 0
    n_mcus = (height // 8) * (width // 8)
    for by in range(height // 8):
        for bx in range(width // 8):
            blk = y[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 2048.0
            fq = np.round((_DCT_C @ blk @ _DCT_C.T) / _Q_LUMA).astype(np.int64)
            pred = _encode_block(bw, fq.reshape(64)[_ZZ], pred, dc_codes, ac_codes)
            mcu_idx = by * (width // 8) + bx
            if (
                restart_interval
                and mcu_idx + 1 < n_mcus
                and (mcu_idx + 1) % restart_interval == 0
            ):
                bw.restart(rst_m)
                rst_m = (rst_m + 1) & 7
                pred = 0

    def _zz16_bytes(q: np.ndarray) -> bytes:
        return b"".join(
            int(q.reshape(64)[_ZZ[z]]).to_bytes(2, "big") for z in range(64)
        )

    dqt = _seg(0xDB, b"\x10" + _zz16_bytes(_Q_LUMA))  # Pq=1: 16-bit entries
    sof = _seg(0xC1, struct.pack(">BHHB", 12, height, width, 1) + bytes([1, 0x11, 0]))
    dht = _seg(
        0xC4,
        b"\x00" + bytes(_DC12_BITS) + bytes(_DC12_VALS)
        + b"\x10" + bytes(_AC12_BITS) + bytes(_AC12_VALS),
    )
    sos = _seg(0xDA, b"\x01" + bytes([1, 0x00]) + b"\x00\x3f\x00")
    app0 = _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    dri = _seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    return b"\xff\xd8" + app0 + dqt + sof + dht + dri + sos + bw.flush() + b"\xff\xd9"


def decode_jpeg(payload: bytes) -> tuple[int, int, np.ndarray]:
    """REAL baseline JPEG decode with no codec library: marker walk
    (APPn/COM skipped by length), DQT parse (multiple tables per
    segment, zigzag layout), DHT canonical-code reconstruction from
    BITS/HUFFVAL (T.81 Annex C — whatever tables the file declares),
    SOF0 frame parse, then the interleaved-MCU entropy decode:
    canonical Huffman, DC differential + EXTEND, AC run-length with
    ZRL/EOB, byte un-stuffing, dequantization, 2-D IDCT, level shift,
    and YCbCr->RGB. Returns (width, height, pixels) with ``pixels``
    the top-down (height, width*3) uint8 RGB array; images whose
    dimensions are not MCU multiples are decoded MCU-covered then
    cropped, as the spec requires. Per-component sampling factors
    span T.81's full 1..4 range — 4:4:4, 4:2:0 (what nearly every web
    JPEG uses), 4:2:2, 4:4:0, 4:1:1 — with the T.81 §A.2.3 per-MCU
    block interleave and nearest-neighbor chroma upsampling
    (integer-ratio layouts only; a 3-vs-4 factor mix would need
    fractional resampling and refuses). Restart intervals (DRI/RSTn,
    T.81 §E.1.4 — byte realign, in-sequence marker check, DC
    predictor reset) and 12-bit extended-sequential (SOF1) frames are
    decoded; arithmetic coding raises rather than guessing.
    Progressive (SOF2) dispatches to
    :func:`decode_jpeg_progressive`."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (bad SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None  # (width, height, [(comp_id, qtab_id)])
    scan = None  # [(comp_id, dc_id, ac_id)], entropy start pos
    restart_interval = 0  # MCUs between RSTn markers; 0 = none (DRI)

    while True:
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG (ran out of markers)")
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:  # standalone
            continue
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG segment header")
        (seglen,) = struct.unpack(">H", payload[pos : pos + 2])
        body = payload[pos + 2 : pos + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated JPEG segment body")
        if marker == 0xDB:  # DQT: one or more tables, 8- or 16-bit (Pq)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq not in (0, 1):
                    raise ValueError("corrupt JPEG DQT precision nibble")
                step = 1 + pq
                if i + 1 + 64 * step > len(body):
                    raise ValueError("truncated JPEG DQT table")
                q = np.zeros(64, dtype=np.int32)
                for z in range(64):
                    off = i + 1 + step * z
                    q[_ZZ[z]] = (
                        body[off] if pq == 0
                        else int.from_bytes(body[off : off + 2], "big")
                    )
                qtabs[tq] = q.reshape(8, 8)
                i += 1 + 64 * step
        elif marker == 0xC4:  # DHT: one or more tables
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                if i + 17 > len(body):
                    raise ValueError("truncated JPEG DHT table")
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                vals = list(body[i + 17 : i + 17 + n])
                if len(vals) != n:
                    raise ValueError("truncated JPEG DHT table")
                huff[(tc, th)] = _decode_table(bits, vals)
                i += 17 + n
        elif marker in (0xC0, 0xC1):  # SOF0 baseline / SOF1 extended sequential
            if len(body) < 6:
                raise ValueError("truncated JPEG SOF header")
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            # SOF0 is 8-bit by definition; SOF1 (extended sequential,
            # same Huffman machinery) additionally allows 12-bit —
            # level shift 2048, categories per the 12-bit column of
            # T.81 Table F.1
            if prec != 8 and not (prec == 12 and marker == 0xC1):
                raise ValueError(f"unsupported JPEG precision {prec}")
            _check_decode_dims(w, h, "JPEG")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                ch, cv = hv >> 4, hv & 0x0F
                # T.81 B.2.2: Hi/Vi are 1..4; anything else is corrupt
                if not (1 <= ch <= 4 and 1 <= cv <= 4):
                    raise ValueError("corrupt JPEG sampling factors")
                comps.append((cid, ch, cv, tq))
            # nearest-neighbor upsampling needs integer ratios to the
            # max factor — true of every real layout (4:4:4, 4:2:x,
            # 4:1:1, 4:4:0...); a 3-vs-4 factor mix would need
            # fractional resampling and refuses rather than guessing
            hmax0 = max(ch for _, ch, _, _ in comps)
            vmax0 = max(cv for _, _, cv, _ in comps)
            if any(hmax0 % ch or vmax0 % cv for _, ch, cv, _ in comps):
                raise ValueError(
                    "unsupported JPEG variant: fractional chroma upsampling"
                )
            frame = (w, h, comps, prec)
        elif marker == 0xC2:  # SOF2: hand the whole payload to the
            return _decode_jpeg_progressive(payload)  # progressive path
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError(
                "unsupported JPEG variant: only sequential (SOF0/SOF1)"
                " and progressive (SOF2)"
            )
        elif marker == 0xDD:  # DRI: restart interval in MCUs
            if len(body) < 2:
                raise ValueError("truncated JPEG DRI segment")
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS: component->table map, then entropy data
            if frame is None:
                raise ValueError("JPEG SOS before SOF0")
            if len(body) < 1 or len(body) < 1 + 2 * body[0] + 3:
                raise ValueError("truncated JPEG SOS header")
            ns = body[0]
            scan = [
                (body[1 + 2 * c], body[2 + 2 * c] >> 4, body[2 + 2 * c] & 0x0F)
                for c in range(ns)
            ]
            pos += seglen
            break  # entropy-coded data follows
        pos += seglen

    if frame is None or scan is None:
        raise ValueError("missing JPEG SOF0 or SOS")
    w, h, comps, prec = frame
    level_shift = 128.0 if prec == 8 else 2048.0
    max_dc_cat, max_ac_cat = (11, 10) if prec == 8 else (15, 14)
    if len(scan) != len(comps):
        raise ValueError("JPEG scan/frame component mismatch")
    hmax = max(ch for _, ch, _, _ in comps)
    vmax = max(cv for _, _, cv, _ in comps)
    # MCU grid covers the image at the max sampling factor; each
    # component contributes (cv x ch) blocks per MCU in raster order —
    # the interleaving T.81 §A.2.3 defines. (1,1)-everywhere reduces to
    # the 4:4:4 one-block-per-component case exactly.
    mcux_n = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy_n = (h + 8 * vmax - 1) // (8 * vmax)
    br = _BitReader(payload, pos)
    planes = [
        np.zeros((mcuy_n * 8 * cv, mcux_n * 8 * ch), dtype=np.float64)
        for _, ch, cv, _ in comps
    ]
    preds = [0] * len(comps)
    by_comp = {cid: i for i, (cid, _, _, _) in enumerate(comps)}
    if any(cid not in by_comp for cid, _, _ in scan):
        raise ValueError("JPEG scan references an unknown component")
    rst_m = 0
    for my in range(mcuy_n):
        for mx in range(mcux_n):
            mcu_idx = my * mcux_n + mx
            if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
                # T.81 §E.1.4: byte-align, consume the in-sequence
                # RSTm, reset every DC predictor
                br.expect_restart(rst_m)
                rst_m = (rst_m + 1) & 7
                preds = [0] * len(comps)
            for cid, dc_id, ac_id in scan:
                ci = by_comp[cid]
                _, ch, cv, tq = comps[ci]
                try:
                    dc_tbl, ac_tbl = huff[(0, dc_id)], huff[(1, ac_id)]
                    q = qtabs[tq]
                except KeyError:
                    raise ValueError("JPEG scan references an undeclared table")
                for v_ in range(cv):
                    for h_ in range(ch):
                        zz, preds[ci] = _decode_block(
                            br, dc_tbl, ac_tbl, preds[ci],
                            max_dc_cat=max_dc_cat, max_ac_cat=max_ac_cat,
                        )
                        fq = np.zeros(64, dtype=np.int64)
                        fq[_ZZ] = zz
                        blk = _DCT_C.T @ (fq.reshape(8, 8) * q) @ _DCT_C
                        r0 = (my * cv + v_) * 8
                        c0 = (mx * ch + h_) * 8
                        planes[ci][r0 : r0 + 8, c0 : c0 + 8] = blk + level_shift

    return _jpeg_planes_to_rgb(w, h, comps, planes, hmax, vmax, precision=prec)


def _jpeg_planes_to_rgb(
    w: int, h: int, comps: list, planes: list, hmax: int, vmax: int,
    *, precision: int = 8,
) -> tuple[int, int, np.ndarray]:
    """Shared decoder tail (baseline + progressive): bring every
    component plane to full resolution (nearest-neighbor chroma
    upsampling — the baseline-decoder standard), crop the MCU cover,
    and convert YCbCr->RGB (grayscale replicates Y). 12-bit samples
    clip to 0..4095 and reduce to 8-bit output by taking the high
    byte's worth (>> 4) — the standard high-bits reduction, the same
    convention as the 16-bit PNG path."""
    maxv = 255.0 if precision == 8 else 4095.0
    mid = 128.0 if precision == 8 else 2048.0
    up = [
        np.kron(p, np.ones((vmax // cv, hmax // ch)))
        for p, (_, ch, cv, _) in zip(planes, comps)
    ]
    samples = [np.clip(np.round(p[:h, :w]), 0, maxv) for p in up]
    if len(samples) == 1:
        y = samples[0]
        out = np.stack([y, y, y], axis=-1)
    else:
        y, cb, cr = samples[0], samples[1] - mid, samples[2] - mid
        out = np.stack(
            [
                np.clip(np.round(y + 1.402 * cr), 0, maxv),
                np.clip(np.round(y - 0.344136 * cb - 0.714136 * cr), 0, maxv),
                np.clip(np.round(y + 1.772 * cb), 0, maxv),
            ],
            axis=-1,
        )
    if precision != 8:
        out = out.astype(np.int64) >> 4
    return w, h, out.astype(np.uint8).reshape(h, w * 3)


def jpeg_dims(doc_id: int) -> tuple[int, int]:
    """Per-doc fixture dimensions: MCU multiples (8/16/24 wide by
    8..32 tall) so every file is a real multi-MCU interleaved scan."""
    return 8 * (1 + doc_id % 3), 8 * (1 + doc_id % 4)


def _flat_blocks(
    tag: str, doc_id: int, width: int, height: int, block: tuple[int, int],
    *, mod: int = 256, dtype=np.uint8,
) -> np.ndarray:
    """The JPEG family's fixture: a (height, width) sample plane that
    is FLAT per ``block`` = (rows, cols) region, one
    :func:`fixture_values` value per region. Flat regions are what
    make a LOSSY codec oracle-checkable: with the DC quant step of 8
    a flat 8x8 block survives quantize->dequantize->IDCT bit-exactly
    (see _Q_LUMA), and the chroma mean of a flat region (4:2:0,
    4:1:1) is exact — while every piece of real machinery still runs:
    varying DC categories, negative differentials, EXTEND, EOB, byte
    stuffing."""
    bh, bw = block
    vals = fixture_values(tag, doc_id, (height // bh) * (width // bw), mod)
    grid = np.array(vals, dtype=dtype).reshape(height // bh, width // bw)
    return np.kron(grid, np.ones((bh, bw), dtype=dtype))


def _gray_rgb(gray: np.ndarray) -> bytes:
    """Replicate a gray plane to interleaved RGB bytes (R = G = B)."""
    return np.repeat(gray[..., None], 3, axis=-1).tobytes()


def jpeg_payload(doc_id: int) -> bytes:
    """REAL baseline 4:4:4 JPEG of the ``'jpeg'`` flat-8x8-block
    fixture at :func:`jpeg_dims` (DCT + Huffman coding run
    executor-side); each block contributes 64 pixels x 3 channels x
    its value to the decoded pixel_sum."""
    w, h = jpeg_dims(doc_id)
    return make_jpeg(w, h, _gray_rgb(_flat_blocks("jpeg", doc_id, w, h, (8, 8))))


def jpeg420_dims(doc_id: int) -> tuple[int, int]:
    """4:2:0 fixture dimensions: 16-pixel MCU multiples (16/32 wide by
    16..48 tall) so every file is a real multi-macroblock interleaved
    scan with the 4-Y+Cb+Cr block order."""
    return 16 * (1 + doc_id % 2), 16 * (1 + doc_id % 3)


def jpeg420_payload(doc_id: int) -> bytes:
    """4:2:0 sibling of :func:`jpeg_payload` — the subsampled layout
    nearly every web JPEG uses. The ``'jpeg420'`` fixture is flat per
    16x16 MACROBLOCK, which keeps 4:2:0 bit-exact end to end: all four
    Y blocks of an MCU are flat (DC step 8 divides them), and the 2x2
    chroma mean of a flat region is exact."""
    w, h = jpeg420_dims(doc_id)
    gray = _flat_blocks("jpeg420", doc_id, w, h, (16, 16))
    return make_jpeg(w, h, _gray_rgb(gray), subsampling="4:2:0")


def jpeg_dri_dims(doc_id: int) -> tuple[int, int]:
    """DRI fixture dimensions, decoupled from the restart interval so
    the MCU-count/interval ratio sweeps widely: up to 20 MCUs against
    intervals 1..4 — doc_id ≡ 44 (mod 60) yields 19 restarts, cycling
    the RSTm counter past 7 twice (the wrap real decoders must track)."""
    return 8 * (2 + doc_id % 3), 8 * (1 + doc_id % 5)


def jpeg_dri_interval(doc_id: int) -> int:
    """Per-doc restart interval in MCUs (1..4)."""
    return 1 + doc_id % 4


def jpeg_dri_payload(doc_id: int) -> bytes:
    """Restart-interval sibling of :func:`jpeg_payload` — the marker
    discipline real crawl JPEGs carry (VERDICT r14 #3), decoded by the
    same :func:`decode_jpeg` with no fixture-specific path. Flat blocks
    (tag ``'jpegdri'``) + DC quant step 8 keep the lossy decode
    bit-exact; what DRI adds is predictor RESETS mid-scan, so the
    differential-DC chain is re-anchored at every restart boundary."""
    w, h = jpeg_dri_dims(doc_id)
    gray = _flat_blocks("jpegdri", doc_id, w, h, (8, 8))
    return make_jpeg(w, h, _gray_rgb(gray), restart_interval=jpeg_dri_interval(doc_id))


# --- progressive (SOF2) JPEG: spectral selection + successive approximation ----

# Progressive AC scans emit EOBn symbols ((n<<4)|0, n 0..14) that the
# standard sequential AC tables don't contain, so progressive encoders
# ship custom tables. This fixed table holds the FULL emittable
# alphabet — (run<<4)|size for run 0..15, size 0..10: every (run,size)
# pair, every EOBn, and ZRL (0xF0 = the size-0 slot of run 15) — as a
# flat canonical code: all 176 symbols at length 8 (codes 0..175; the
# all-ones 8-bit code 255 stays unused, so the canonical tree is a
# valid incomplete prefix code). Suboptimal size, zero ambiguity.
_PROG_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0, 0]
_PROG_AC_VALS = [(r << 4) | s for r in range(16) for s in range(11)]


def _pt_ac(v: int, al: int) -> int:
    """AC successive-approximation point transform: divide by 2^Al
    truncating TOWARD ZERO (T.81 G.1.2.2) — unlike DC's arithmetic
    (floor) shift."""
    return v >> al if v >= 0 else -((-v) >> al)


def make_jpeg_progressive(
    width: int, height: int, pixels: bytes, *, subsampling: str = "4:4:4"
) -> bytes:
    """Serialize a REAL progressive (SOF2) JFIF JPEG — the second most
    common web JPEG layout after baseline 4:2:0 (VERDICT r14 #7). The
    quantized coefficients are IDENTICAL to :func:`make_jpeg`'s (same
    DCT, same tables), re-ordered into a 9-scan progression that
    exercises every progressive coding mode of T.81 Annex G:

      1. DC first, all components interleaved, Al=1 (point transform)
      2. AC first, comp 0, spectral band 1-5,  Al=1 (EOBn run coding)
      3. AC first, comp 0, spectral band 6-63, Al=1
      4. AC first, comp 1, band 1-63, Al=1
      5. AC first, comp 2, band 1-63, Al=1
      6. DC refine, interleaved, Ah=1 Al=0 (one raw bit per block)
      7-9. AC refine per component, band 1-63, Ah=1 Al=0 (newly-
         significant run/sign coding + buffered correction bits)

    A progressive decode therefore reconstructs the exact coefficient
    array the baseline file carries — pixel output must be
    bit-identical to decoding :func:`make_jpeg` of the same input,
    which is what the round-trip tests pin."""
    if len(pixels) != width * height * 3:
        raise ValueError(f"need {width * height * 3} pixel bytes, got {len(pixels)}")
    rgb = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, 3).astype(np.float64)
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = np.clip(np.round(0.299 * r + 0.587 * g + 0.114 * b), 0, 255)
    cb = np.clip(np.round(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0), 0, 255)
    cr = np.clip(np.round(0.5 * r - 0.418688 * g - 0.081312 * b + 128.0), 0, 255)

    if subsampling == "4:4:4":
        if width % 8 or height % 8:
            raise ValueError("make_jpeg_progressive 4:4:4 requires multiple-of-8 dimensions")
        planes = [y, cb, cr]
        meta = [(1, 1), (1, 1), (1, 1)]
        sof_comps = bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1])
    elif subsampling == "4:2:0":
        if width % 16 or height % 16:
            raise ValueError("make_jpeg_progressive 4:2:0 requires multiple-of-16 dimensions")
        cb_s = np.round(cb.reshape(height // 2, 2, width // 2, 2).mean(axis=(1, 3)))
        cr_s = np.round(cr.reshape(height // 2, 2, width // 2, 2).mean(axis=(1, 3)))
        planes = [y, cb_s, cr_s]
        meta = [(2, 2), (1, 1), (1, 1)]
        sof_comps = bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1])
    else:
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    qmap = [_Q_LUMA, _Q_CHROMA, _Q_CHROMA]

    def _block_coefs(plane: np.ndarray, qtab: np.ndarray) -> np.ndarray:
        gh, gw = plane.shape[0] // 8, plane.shape[1] // 8
        out = np.zeros((gh, gw, 64), dtype=np.int32)
        for by in range(gh):
            for bx in range(gw):
                blk = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                fq = np.round((_DCT_C @ blk @ _DCT_C.T) / qtab).astype(np.int32)
                out[by, bx] = fq.reshape(64)[_ZZ]
        return out

    coefs = [_block_coefs(p, q) for p, q in zip(planes, qmap)]
    hmax = max(ch for ch, _ in meta)
    vmax = max(cv for _, cv in meta)
    mcux_n = width // (8 * hmax)
    mcuy_n = height // (8 * vmax)
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_PROG_AC_BITS, _PROG_AC_VALS)

    def _mcu_blocks():
        """Interleaved (ci, by, bx) order of T.81 §A.2.3."""
        for my in range(mcuy_n):
            for mx in range(mcux_n):
                for ci, (ch, cv) in enumerate(meta):
                    for v_ in range(cv):
                        for h_ in range(ch):
                            yield ci, my * cv + v_, mx * ch + h_

    def _dc_first(al: int) -> bytes:
        bw = _BitWriter()
        preds = [0] * len(coefs)
        for ci, by, bx in _mcu_blocks():
            dc = int(coefs[ci][by, bx, 0]) >> al
            diff = dc - preds[ci]
            preds[ci] = dc
            s = _category(diff)
            code, ln = dc_codes[s]
            bw.write(code, ln)
            if s:
                bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
        return bw.flush()

    def _dc_refine(al: int) -> bytes:
        bw = _BitWriter()
        for ci, by, bx in _mcu_blocks():
            bw.write((int(coefs[ci][by, bx, 0]) >> al) & 1, 1)
        return bw.flush()

    def _ac_first(ci: int, ss: int, se: int, al: int) -> bytes:
        bw = _BitWriter()
        eobrun = 0

        def flush_eob() -> None:
            nonlocal eobrun
            if eobrun:
                n = eobrun.bit_length() - 1
                code, ln = ac_codes[n << 4]
                bw.write(code, ln)
                if n:
                    bw.write(eobrun - (1 << n), n)
                eobrun = 0

        gh, gw, _ = coefs[ci].shape
        for by in range(gh):
            for bx in range(gw):
                vals = [_pt_ac(int(coefs[ci][by, bx, k]), al) for k in range(ss, se + 1)]
                nz = max((i for i, v in enumerate(vals) if v), default=-1)
                if nz < 0:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eob()
                    continue
                flush_eob()
                run = 0
                for i in range(nz + 1):
                    v = vals[i]
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, ln = ac_codes[0xF0]
                        bw.write(code, ln)
                        run -= 16
                    s = _category(v)
                    code, ln = ac_codes[(run << 4) | s]
                    bw.write(code, ln)
                    bw.write(v if v >= 0 else v + (1 << s) - 1, s)
                    run = 0
                if nz < len(vals) - 1:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eob()
        flush_eob()
        return bw.flush()

    def _ac_refine(ci: int, ss: int, se: int, al: int) -> bytes:
        # T.81 G.1.2.3 (the libjpeg encode_mcu_AC_refine structure):
        # newly-significant coefficients (|pt| == 1) are coded as
        # (zero-HISTORY run, size 1) + raw sign bit; already-nonzero
        # coefficients passed over contribute buffered correction bits
        # emitted after the next symbol; blocks with nothing new join
        # an EOB run whose correction bits buffer across blocks.
        bw = _BitWriter()
        eobrun = 0
        pend: list[int] = []  # correction bits owed after next EOBn

        def flush_eob() -> None:
            nonlocal eobrun, pend
            if eobrun:
                n = eobrun.bit_length() - 1
                code, ln = ac_codes[n << 4]
                bw.write(code, ln)
                if n:
                    bw.write(eobrun - (1 << n), n)
                eobrun = 0
            for bit in pend:
                bw.write(bit, 1)
            pend = []

        gh, gw, _ = coefs[ci].shape
        for by in range(gh):
            for bx in range(gw):
                zz = coefs[ci][by, bx]
                absv = [abs(_pt_ac(int(zz[k]), al)) for k in range(ss, se + 1)]
                eob = max((i for i, a in enumerate(absv) if a == 1), default=-1)
                run = 0
                br: list[int] = []
                for i, a in enumerate(absv):
                    if a == 0:
                        run += 1
                        continue
                    while run > 15 and i <= eob:
                        flush_eob()
                        code, ln = ac_codes[0xF0]
                        bw.write(code, ln)
                        run -= 16
                        for bit in br:
                            bw.write(bit, 1)
                        br = []
                    if a > 1:
                        br.append(a & 1)
                        continue
                    flush_eob()
                    code, ln = ac_codes[(run << 4) | 1]
                    bw.write(code, ln)
                    bw.write(1 if int(zz[ss + i]) >= 0 else 0, 1)
                    for bit in br:
                        bw.write(bit, 1)
                    br = []
                    run = 0
                if run > 0 or br:
                    eobrun += 1
                    pend.extend(br)
                    if eobrun == 0x7FFF or len(pend) > 900:
                        flush_eob()
        flush_eob()
        return bw.flush()

    def _sos(scan_comps: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([len(scan_comps)])
        for ci in scan_comps:
            dc_id = 0 if ci == 0 else 1
            ac_id = 0 if ci == 0 else 1
            body += bytes([ci + 1, (dc_id << 4) | ac_id])
        body += bytes([ss, se, (ah << 4) | al])
        return _seg(0xDA, body)

    def _zz_bytes(q: np.ndarray) -> bytes:
        return bytes(int(q.reshape(64)[_ZZ[z]]) for z in range(64))

    dqt = _seg(0xDB, b"\x00" + _zz_bytes(_Q_LUMA) + b"\x01" + _zz_bytes(_Q_CHROMA))
    sof = _seg(0xC2, struct.pack(">BHHB", 8, height, width, 3) + sof_comps)
    dht = _seg(
        0xC4,
        b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS)
        + b"\x01" + bytes(_DC_BITS) + bytes(_DC_VALS)
        + b"\x10" + bytes(_PROG_AC_BITS) + bytes(_PROG_AC_VALS)
        + b"\x11" + bytes(_PROG_AC_BITS) + bytes(_PROG_AC_VALS),
    )
    app0 = _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    com = _seg(0xFE, b"spark-graft")
    out = b"\xff\xd8" + app0 + com + dqt + sof + dht
    out += _sos([0, 1, 2], 0, 0, 0, 1) + _dc_first(1)
    out += _sos([0], 1, 5, 0, 1) + _ac_first(0, 1, 5, 1)
    out += _sos([0], 6, 63, 0, 1) + _ac_first(0, 6, 63, 1)
    out += _sos([1], 1, 63, 0, 1) + _ac_first(1, 1, 63, 1)
    out += _sos([2], 1, 63, 0, 1) + _ac_first(2, 1, 63, 1)
    out += _sos([0, 1, 2], 0, 0, 1, 0) + _dc_refine(0)
    out += _sos([0], 1, 63, 1, 0) + _ac_refine(0, 1, 63, 0)
    out += _sos([1], 1, 63, 1, 0) + _ac_refine(1, 1, 63, 0)
    out += _sos([2], 1, 63, 1, 0) + _ac_refine(2, 1, 63, 0)
    return out + b"\xff\xd9"


def jpeg_prog_dims(doc_id: int) -> tuple[int, int]:
    """Progressive fixture dimensions: 8..32 wide by 16..32 tall, so
    every file carries multi-block spectral bands and multi-block EOB
    runs in the all-zero-AC scans."""
    return 8 * (1 + doc_id % 4), 8 * (2 + doc_id % 3)


def jpeg_prog_payload(doc_id: int) -> bytes:
    """Progressive (SOF2) sibling of :func:`jpeg_payload` — the second
    most common web JPEG layout (VERDICT r14 #7), decoded by the same
    :func:`decode_jpeg` (it dispatches on the SOF marker). Flat blocks
    (tag ``'jpegprog'``) + DC quant step 8 keep the lossy decode
    bit-exact across the WHOLE 9-scan progression: the DC path runs
    point transform + refinement for real, the AC scans are pure EOB
    runs (every AC coefficient is zero), and non-flat AC machinery is
    pinned by the progressive==baseline equality tests instead."""
    w, h = jpeg_prog_dims(doc_id)
    gray = _flat_blocks("jpegprog", doc_id, w, h, (8, 8))
    return make_jpeg_progressive(w, h, _gray_rgb(gray))


def _decode_jpeg_progressive(payload: bytes) -> tuple[int, int, np.ndarray]:
    """REAL progressive (SOF2) JPEG decode, no codec library: the
    multi-scan coefficient-accumulation architecture of T.81 Annex G.
    Every scan (any order, any spectral band, any successive-
    approximation schedule) updates per-component zigzag coefficient
    grids; dequantize + IDCT + upsample + color conversion run ONCE at
    EOI over the accumulated coefficients — which is why a progressive
    decode of the same quantized coefficients is bit-identical to the
    baseline decode (pinned in tests). Handles: interleaved and
    single-component DC scans (first with point transform, refinement
    as raw bits), AC first scans with EOBn run coding and ZRL, AC
    refinement with zero-history runs, sign bits, and correction bits
    buffered across EOB runs (G.1.2.3); DHT/DQT segments between
    scans. Restart intervals inside progressive scans and arithmetic
    coding raise rather than guessing."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (bad SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None
    coefs: list[np.ndarray] = []
    grids: list[tuple[int, int]] = []  # unpadded (gh, gw) per component
    hmax = vmax = 1
    mcux_n = mcuy_n = 0
    saw_eoi = False

    while not saw_eoi:
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG (ran out of markers)")
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:
            saw_eoi = True
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG segment header")
        (seglen,) = struct.unpack(">H", payload[pos : pos + 2])
        body = payload[pos + 2 : pos + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated JPEG segment body")
        if marker == 0xDB:
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    raise ValueError("unsupported JPEG variant: 16-bit quant tables")
                if i + 65 > len(body):
                    raise ValueError("truncated JPEG DQT table")
                q = np.zeros(64, dtype=np.int32)
                for z in range(64):
                    q[_ZZ[z]] = body[i + 1 + z]
                qtabs[tq] = q.reshape(8, 8)
                i += 65
        elif marker == 0xC4:
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                if i + 17 > len(body):
                    raise ValueError("truncated JPEG DHT table")
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                vals = list(body[i + 17 : i + 17 + n])
                if len(vals) != n:
                    raise ValueError("truncated JPEG DHT table")
                huff[(tc, th)] = _decode_table(bits, vals)
                i += 17 + n
        elif marker == 0xC2:
            if len(body) < 6:
                raise ValueError("truncated JPEG SOF header")
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError("unsupported JPEG variant: 12-bit precision")
            _check_decode_dims(w, h, "JPEG")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                ch, cv = hv >> 4, hv & 0x0F
                if ch not in (1, 2) or cv not in (1, 2):
                    raise ValueError(
                        "unsupported JPEG variant: sampling factors beyond 2"
                    )
                comps.append((cid, ch, cv, tq))
            frame = (w, h, comps)
            hmax = max(ch for _, ch, _, _ in comps)
            vmax = max(cv for _, _, cv, _ in comps)
            mcux_n = (w + 8 * hmax - 1) // (8 * hmax)
            mcuy_n = (h + 8 * vmax - 1) // (8 * vmax)
            for _, ch, cv, _ in comps:
                # MCU-padded coefficient grid; non-interleaved scans
                # only touch the unpadded ceil(dims/8) prefix (T.81)
                coefs.append(
                    # int64: the corrupt-stream DC-chain bound of
                    # _decode_block applies to the progressive path too
                    np.zeros((mcuy_n * cv, mcux_n * ch, 64), dtype=np.int64)
                )
                cw = (w * ch + hmax - 1) // hmax
                chh = (h * cv + vmax - 1) // vmax
                grids.append(((chh + 7) // 8, (cw + 7) // 8))
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("mixed JPEG frame types in one payload")
        elif marker == 0xDD:
            if len(body) < 2:
                raise ValueError("truncated JPEG DRI segment")
            (ri,) = struct.unpack(">H", body[:2])
            if ri:
                raise ValueError(
                    "unsupported JPEG variant: restart intervals inside a"
                    " progressive scan"
                )
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("JPEG SOS before SOF2")
            if len(body) < 1 or len(body) < 1 + 2 * body[0] + 3:
                raise ValueError("truncated JPEG SOS header")
            w, h, comps = frame
            ns = body[0]
            scan = [
                (body[1 + 2 * c], body[2 + 2 * c] >> 4, body[2 + 2 * c] & 0x0F)
                for c in range(ns)
            ]
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 0x0F
            # T.81 §B.2.3 bounds: the band must live inside the 64
            # zigzag positions and the point transforms inside 13
            # bits — raw SOS bytes index coefficient arrays below
            if se > 63 or ss > se or ah > 13 or al > 13:
                raise ValueError("corrupt progressive scan header")
            by_comp = {cid: i for i, (cid, _, _, _) in enumerate(comps)}
            if any(cid not in by_comp for cid, _, _ in scan):
                raise ValueError("JPEG scan references an unknown component")
            br = _BitReader(payload, pos + seglen)
            pos = _progressive_scan(
                br, scan, ss, se, ah, al, comps, by_comp, coefs, grids,
                huff, mcux_n, mcuy_n,
            )
            continue
        pos += seglen

    if frame is None:
        raise ValueError("missing JPEG SOF2")
    w, h, comps = frame
    planes = []
    for ci, (_, ch, cv, tq) in enumerate(comps):
        if tq not in qtabs:
            raise ValueError("JPEG frame references an undeclared quant table")
        q = qtabs[tq]
        gh, gw, _ = coefs[ci].shape
        plane = np.zeros((gh * 8, gw * 8), dtype=np.float64)
        for by in range(gh):
            for bx in range(gw):
                fq = np.zeros(64, dtype=np.int64)
                fq[_ZZ] = coefs[ci][by, bx]
                blk = _DCT_C.T @ (fq.reshape(8, 8) * q) @ _DCT_C
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = blk + 128.0
        planes.append(plane)
    return _jpeg_planes_to_rgb(w, h, comps, planes, hmax, vmax)


def _progressive_scan(
    br: "_BitReader",
    scan: list,
    ss: int,
    se: int,
    ah: int,
    al: int,
    comps: list,
    by_comp: dict,
    coefs: list,
    grids: list,
    huff: dict,
    mcux_n: int,
    mcuy_n: int,
) -> int:
    """Entropy-decode ONE progressive scan in place; returns the
    stream position after its entropy data. DC scans (Ss=0) may be
    interleaved (multi-component MCU walk) or single-component
    (unpadded block-grid walk); AC scans (Ss>0) are single-component
    by T.81 §B.2.3."""
    if ss == 0:
        if se != 0:
            raise ValueError("progressive DC scan must have Ss=Se=0")
        if len(scan) == 1:
            cid, dc_id, _ = scan[0]
            ci = by_comp[cid]
            gh, gw = grids[ci]
            blocks = [(ci, by, bx) for by in range(gh) for bx in range(gw)]
        else:
            blocks = []
            for my in range(mcuy_n):
                for mx in range(mcux_n):
                    for cid, dc_id, _ in scan:
                        ci = by_comp[cid]
                        _, ch, cv, _ = comps[ci]
                        for v_ in range(cv):
                            for h_ in range(ch):
                                blocks.append((ci, my * cv + v_, mx * ch + h_))
        if ah == 0:  # DC first: differential in the point-transformed domain
            preds = {by_comp[cid]: 0 for cid, _, _ in scan}
            tables = {}
            for cid, dc_id, _ in scan:
                if (0, dc_id) not in huff:
                    raise ValueError("JPEG scan references an undeclared table")
                tables[by_comp[cid]] = huff[(0, dc_id)]
            for ci, by, bx in blocks:
                s = _huff_read(br, tables[ci])
                if s > 11:  # T.81 Table F.1 bound (8-bit precision)
                    raise ValueError("corrupt JPEG DC category")
                diff = 0
                if s:
                    v = br.bits(s)
                    diff = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                preds[ci] += diff
                coefs[ci][by, bx, 0] = preds[ci] << al
        else:  # DC refine: one raw bit per block (no Huffman)
            p1 = 1 << al
            for ci, by, bx in blocks:
                if br.bit():
                    coefs[ci][by, bx, 0] |= p1
        return br.pos

    if len(scan) != 1:
        raise ValueError("progressive AC scan must be single-component")
    cid, _, ac_id = scan[0]
    ci = by_comp[cid]
    if (1, ac_id) not in huff:
        raise ValueError("JPEG scan references an undeclared table")
    ac_tbl = huff[(1, ac_id)]
    gh, gw = grids[ci]
    zzs = coefs[ci]
    eobrun = 0
    if ah == 0:  # AC first (G.1.2.2)
        for by in range(gh):
            for bx in range(gw):
                if eobrun:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    sym = _huff_read(br, ac_tbl)
                    r, s = sym >> 4, sym & 0x0F
                    if s == 0:
                        if r != 15:
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += br.bits(r)
                            break
                        k += 16  # ZRL
                        continue
                    k += r
                    if k > se or s > 10:
                        raise ValueError("corrupt progressive AC run")
                    v = br.bits(s)
                    v = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                    zzs[by, bx, k] = v << al
                    k += 1
    else:  # AC refine (G.1.2.3)
        p1, m1 = 1 << al, -(1 << al)

        def correct(by: int, bx: int, k: int) -> None:
            cur = int(zzs[by, bx, k])
            if br.bit() and not (cur & p1):
                zzs[by, bx, k] = cur + (p1 if cur >= 0 else m1)

        for by in range(gh):
            for bx in range(gw):
                k = ss
                if eobrun == 0:
                    while k <= se:
                        sym = _huff_read(br, ac_tbl)
                        r, s = sym >> 4, sym & 0x0F
                        newval = 0
                        if s:
                            if s != 1:
                                raise ValueError(
                                    "corrupt progressive refinement symbol"
                                )
                            newval = p1 if br.bit() else m1
                        elif r != 15:
                            eobrun = 1 << r
                            if r:
                                eobrun += br.bits(r)
                            break
                        # advance past r zero-HISTORY coefficients,
                        # reading correction bits for nonzero ones
                        while k <= se:
                            if zzs[by, bx, k] != 0:
                                correct(by, bx, k)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if newval and k <= se:
                            zzs[by, bx, k] = newval
                        k += 1
                if eobrun:
                    while k <= se:
                        if zzs[by, bx, k] != 0:
                            correct(by, bx, k)
                        k += 1
                    eobrun -= 1
    if eobrun:
        raise ValueError("progressive scan ended inside an EOB run")
    return br.pos


def make_png_palette(width: int, height: int, indices: bytes, palette: bytes) -> bytes:
    """Serialize a REAL 8-bit PALETTE PNG (color type 3): signature,
    IHDR, PLTE (the RGB lookup table), filtered index scanlines
    DEFLATE-compressed across two IDAT chunks, IEND. ``indices`` is
    the top-down row-major index byte array; ``palette`` is up to 256
    RGB triples. Scanline ``y`` cycles filter ``y % 5`` like
    :func:`make_png`, but at bpp=1 — the left-neighbor offsets the
    palette layout actually uses."""
    if len(indices) != width * height:
        raise ValueError(f"need {width * height} index bytes, got {len(indices)}")
    if len(palette) % 3 or len(palette) > 768:
        raise ValueError("palette must be up to 256 RGB triples")
    raw = np.frombuffer(indices, dtype=np.uint8).reshape(height, width).astype(np.int32)
    filtered = bytearray()
    prior = np.zeros(width, dtype=np.int32)
    for y in range(height):
        row = raw[y]
        ftype = y % 5
        left = np.concatenate([np.zeros(1, dtype=np.int32), row[:-1]])
        ul = np.concatenate([np.zeros(1, dtype=np.int32), prior[:-1]])
        if ftype == 0:
            out = row
        elif ftype == 1:
            out = row - left
        elif ftype == 2:
            out = row - prior
        elif ftype == 3:
            out = row - (left + prior) // 2
        else:
            pred = np.array(
                [_paeth(int(a), int(b), int(c)) for a, b, c in zip(left, prior, ul)],
                dtype=np.int32,
            )
            out = row - pred
        filtered.append(ftype)
        filtered += (out % 256).astype(np.uint8).tobytes()
        prior = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 3, 0, 0, 0)
    compressed = zlib.compress(bytes(filtered), 6)
    split = max(1, len(compressed) // 2)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", palette)
        + _png_chunk(b"IDAT", compressed[:split])
        + _png_chunk(b"IDAT", compressed[split:])
        + _png_chunk(b"IEND", b"")
    )


@functools.cache
def _png8_palette() -> bytes:
    """Deterministic 256-entry fixture palette: entry ``i`` =
    (i, 255-i, (7*i) % 256), so a decoded pixel's RGB sum is the
    closed form 255 + (7*i) % 256 — DuckDB-replayable without
    materializing the table."""
    return bytes(
        b for i in range(256) for b in (i, 255 - i, (7 * i) % 256)
    )


def png8_payload(doc_id: int) -> bytes:
    """REAL palette PNG of the ``'png8'`` index fixture over
    :func:`_png8_palette`; dims reuse :func:`png_dims`, so every file
    still exercises all five scanline filters — at bpp=1."""
    w, h = png_dims(doc_id)
    return make_png_palette(w, h, bytes(fixture_values("png8", doc_id, w * h)), _png8_palette())


# --- MP4/ISO-BMFF container metadata (real box walk; codec decode stays stubbed) ---


def _mp4_box(tag: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + tag + body


def make_mp4_meta(
    *,
    duration_ms: int,
    width: int,
    height: int,
    n_video_tracks: int = 1,
    brand: bytes = b"isom",
    mvhd_version: int = 0,
    largesize_moov: bool = False,
) -> bytes:
    """Serialize a REAL minimal ISO-BMFF (MP4) container: ftyp with the
    major brand, moov holding an mvhd (version 0: timescale 1000 so
    duration is in ms; version 1: 64-bit duration at timescale 90000 —
    duration_ms*90 ticks, so the parse recovers duration_ms exactly)
    and one tkhd-bearing trak per video track (16.16 fixed-point
    presentation dims), and an mdat whose payload is an opaque
    stand-in — the honest boundary: the CONTAINER walk is real
    structure a crawl pipeline needs (duration/dims/track census
    without decoding a single frame); sample decoding would need the
    codec stack and stays stubbed. ``largesize_moov`` wraps the moov
    in the 64-bit size==1 largesize layout big real files use."""
    ftyp = _mp4_box(b"ftyp", brand + struct.pack(">I", 0x200) + brand + b"mp41")
    if mvhd_version == 1:
        mvhd = _mp4_box(
            b"mvhd",
            struct.pack(">B3x", 1)
            + struct.pack(">QQ", 0, 0)  # creation/modification (64-bit)
            + struct.pack(">IQ", 90000, duration_ms * 90)  # timescale, duration
            + b"\x00" * 80,  # rate/volume/matrix padding (walker skips by size)
        )
    else:
        mvhd = _mp4_box(
            b"mvhd",
            struct.pack(">B3x", 0)
            + struct.pack(">II", 0, 0)  # creation/modification
            + struct.pack(">II", 1000, duration_ms)  # timescale, duration
            + struct.pack(">IH2x8x36xI", 0x00010000, 0x0100, n_video_tracks + 1)
            + b"\x00" * 44,  # matrix/predefines padding (walker skips by size)
        )
    traks = b""
    for t in range(n_video_tracks):
        tkhd = _mp4_box(
            b"tkhd",
            struct.pack(">B3x", 0)
            + struct.pack(">IIII", 0, 0, t + 1, 0)  # ids
            + struct.pack(">I", duration_ms)
            + b"\x00" * 52  # reserved/layer/matrix
            + struct.pack(">II", width << 16, height << 16),
        )
        traks += _mp4_box(b"trak", tkhd)
    moov_body = mvhd + traks
    if largesize_moov:
        moov = (
            struct.pack(">I", 1) + b"moov"
            + struct.pack(">Q", 16 + len(moov_body)) + moov_body
        )
    else:
        moov = _mp4_box(b"moov", moov_body)
    mdat = _mp4_box(b"mdat", b"spark-graft-opaque-samples")
    return ftyp + moov + mdat


def parse_mp4_meta(payload: bytes) -> tuple[str, int, int, int, int]:
    """REAL ISO-BMFF box walk: returns (major_brand, duration_ms,
    width, height, n_video_tracks) from ftyp/moov/mvhd/trak/tkhd.
    Handles 64-bit largesize boxes (size==1), skips unknown boxes by
    their declared size, and refuses malformed structure (zero/short
    sizes, truncation, missing moov) with ValueError — the corrupt-
    crawl-payload contract of every decoder in this module. Dims are
    the FIRST video track's, converted from 16.16 fixed point."""

    def _walk(data: bytes, start: int, end: int):
        pos = start
        while pos + 8 <= end:
            (size,) = struct.unpack(">I", data[pos : pos + 4])
            tag = data[pos + 4 : pos + 8]
            body_off = pos + 8
            if size == 1:
                if pos + 16 > end:
                    raise ValueError("truncated MP4 largesize box")
                (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
                body_off = pos + 16
            if size < body_off - pos or pos + size > end:
                raise ValueError(f"malformed MP4 box size for {tag!r}")
            yield tag, body_off, pos + size
            pos += size
        if pos != end:
            raise ValueError("trailing bytes after the last MP4 box")

    brand = None
    duration = None
    dims = None
    n_video = 0
    for tag, b0, b1 in _walk(payload, 0, len(payload)):
        if tag == b"ftyp":
            if b1 - b0 < 4:
                raise ValueError("truncated MP4 ftyp box")
            brand = payload[b0 : b0 + 4].decode("latin-1")
        elif tag == b"moov":
            for t2, c0, c1 in _walk(payload, b0, b1):
                if t2 == b"mvhd":
                    if c1 - c0 < 20:
                        raise ValueError("truncated MP4 mvhd box")
                    version = payload[c0]
                    if version == 1:
                        timescale, dur = struct.unpack(">IQ", payload[c0 + 20 : c0 + 32])
                    else:
                        timescale, dur = struct.unpack(">II", payload[c0 + 12 : c0 + 20])
                    if timescale == 0:
                        raise ValueError("MP4 mvhd timescale is zero")
                    duration = dur * 1000 // timescale
                elif t2 == b"trak":
                    for t3, d0, d1 in _walk(payload, c0, c1):
                        if t3 == b"tkhd":
                            if d1 - d0 < 84:
                                raise ValueError("truncated MP4 tkhd box")
                            w16, h16 = struct.unpack(">II", payload[d1 - 8 : d1])
                            if w16 and h16:
                                n_video += 1
                                if dims is None:
                                    dims = (w16 >> 16, h16 >> 16)
    if brand is None or duration is None:
        raise ValueError("MP4 payload is missing its ftyp or moov/mvhd box")
    w, h = dims if dims is not None else (0, 0)
    return brand, duration, w, h, n_video


# --- FLAC stream metadata (real STREAMINFO bit layout; frame decode stays stubbed) ---


def make_flac_meta(
    *,
    sample_rate: int,
    channels: int,
    bits_per_sample: int,
    total_samples: int,
) -> bytes:
    """Serialize a REAL FLAC header: 'fLaC' magic, a STREAMINFO block
    with the spec's packed bit layout (20-bit rate, 3-bit channels-1,
    5-bit bps-1, 36-bit total-samples), a VORBIS_COMMENT and a PADDING
    block the walker must skip, then opaque stand-in frame bytes — the
    MP4-meta contract for audio: the CONTAINER/metadata walk is real,
    subframe decoding stays stubbed."""
    if not (1 <= channels <= 8 and 4 <= bits_per_sample <= 32):
        raise ValueError("FLAC channels must be 1-8, bits 4-32")
    if sample_rate >= 1 << 20 or total_samples >= 1 << 36:
        raise ValueError("FLAC field overflow")
    u64 = (
        (sample_rate << 44)
        | ((channels - 1) << 41)
        | ((bits_per_sample - 1) << 36)
        | total_samples
    )
    streaminfo = (
        struct.pack(">HH", 4096, 4096)
        + (0).to_bytes(3, "big")
        + (0).to_bytes(3, "big")
        + u64.to_bytes(8, "big")
        + b"\x00" * 16  # unset md5
    )
    vendor = b"spark-graft"
    vorbis = struct.pack("<I", len(vendor)) + vendor + struct.pack("<I", 0)
    blocks = (
        bytes([0]) + len(streaminfo).to_bytes(3, "big") + streaminfo
        + bytes([4]) + len(vorbis).to_bytes(3, "big") + vorbis
        + bytes([0x80 | 1]) + (8).to_bytes(3, "big") + b"\x00" * 8  # last: padding
    )
    return b"fLaC" + blocks + b"\xff\xf8spark-graft-opaque-frames"


def parse_flac_meta(payload: bytes) -> tuple[int, int, int, int, int]:
    """REAL FLAC metadata walk: returns (sample_rate, channels,
    bits_per_sample, total_samples, duration_ms) from the STREAMINFO
    block, skipping every other metadata block by its declared length.
    Malformed magic, truncated blocks, a missing STREAMINFO, or a zero
    sample rate refuse with ValueError — the corrupt-crawl contract."""
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC payload (bad magic)")
    pos = 4
    info = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("truncated FLAC metadata block header")
        head = payload[pos]
        length = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + length]
        if len(body) != length:
            raise ValueError("truncated FLAC metadata block body")
        if head & 0x7F == 0:
            if length < 34:
                raise ValueError("FLAC STREAMINFO block too short")
            u64 = int.from_bytes(body[10:18], "big")
            rate = u64 >> 44
            ch = ((u64 >> 41) & 0x7) + 1
            bps = ((u64 >> 36) & 0x1F) + 1
            total = u64 & ((1 << 36) - 1)
            if rate == 0:
                raise ValueError("FLAC sample rate is zero")
            info = (rate, ch, bps, total, total * 1000 // rate)
        pos += 4 + length
        if head & 0x80:
            break
    if info is None:
        raise ValueError("FLAC payload is missing its STREAMINFO block")
    return info


# --- staged codec surfaces promoted to driver keys (round 16) -------------------
# Encoders/decoders above shipped (round-trip-exact + fuzz-clean) in
# round 15; these payload functions give each surface its own portable
# fixture family so the DuckDB oracle replays the decode (VERDICT r15
# #1/#2).


def pngi_dims(doc_id: int) -> tuple[int, int]:
    """Adam7 fixture dimensions: 5-12 x 6-12 sweeps images where some
    interlace passes are EMPTY (width <= 4 kills pass 2, height <= 4
    kills pass 3...) and others carry multiple scanlines — the
    scatter-reconstruction cases a sequential-only decoder gets
    wrong."""
    return 5 + doc_id % 8, 6 + doc_id % 7


def png_interlaced_payload(doc_id: int) -> bytes:
    """REAL Adam7-interlaced PNG of the ``'pngi'`` pixel fixture (its
    own seed, so the key is independent of the sequential PNG key's
    data) — interlacing changes the BITSTREAM (per-pass sub-image
    filtering, pass-order scanlines in one zlib stream), not the
    pixels, so the decoded projection keeps the plain pixel_sum closed
    form."""
    w, h = pngi_dims(doc_id)
    return make_png_interlaced(w, h, bytes(fixture_values("pngi", doc_id, w * h * 3)))


def png_rgba_payload(doc_id: int) -> bytes:
    """REAL RGBA (color type 6) PNG — the most common web PNG layout
    after truecolor: four bytes per pixel, filters at bpp=4. Byte
    ``i`` (R,G,B,A interleaved) is the ``'pngrgba'`` fixture, so
    DuckDB replays the decoder's straight-alpha white composite per
    channel with exact integer rounding
    ((v*a + 255*(255-a) + 127) // 255)."""
    w, h = png_dims(doc_id)
    return make_png_rgba(w, h, bytes(fixture_values("pngrgba", doc_id, w * h * 4)))


def jpeg_gray_dims(doc_id: int) -> tuple[int, int]:
    """Grayscale JPEG fixture dimensions: 8-40 wide x 8-16 tall MCU
    multiples — wider than tall (the scanned-page shape), always a
    real multi-MCU scan."""
    return 8 * (1 + doc_id % 5), 8 * (1 + doc_id % 2)


def jpeg_gray_payload(doc_id: int) -> bytes:
    """REAL single-component (grayscale) baseline JPEG — luma tables
    only, 1-block MCUs, the scanned-document layout; exercises the
    decoder's 1-component replicate-to-RGB path. Flat ``'jpeggray'``
    blocks + DC quant step 8 keep the decode bit-exact, each block
    contributing 192*v to pixel_sum."""
    w, h = jpeg_gray_dims(doc_id)
    return make_jpeg_gray(w, h, _flat_blocks("jpeggray", doc_id, w, h, (8, 8)).tobytes())


def gifi_dims(doc_id: int) -> tuple[int, int]:
    """Interlaced-GIF fixture dimensions: 5-9 x 6-11 — every height
    exercises all four interlace passes (pass 2 starts at row 4,
    pass 4 covers the odd rows), and the index count keeps the LZW
    dictionary genuinely growing."""
    return 5 + doc_id % 5, 6 + doc_id % 6


def gif_interlaced_payload(doc_id: int) -> bytes:
    """REAL interlaced GIF of the ``'gifi'`` index fixture — the image
    descriptor sets the interlace flag and rows are stored in the
    spec's four-pass order, so the decode must scatter them back;
    interlacing permutes storage, not values, so index_sum keeps the
    plain closed form."""
    w, h = gifi_dims(doc_id)
    return make_gif_interlaced(w, h, bytes(fixture_values("gifi", doc_id, w * h)))


def mp4_meta_params(doc_id: int) -> dict:
    """Per-doc MP4 fixture parameters (closed-form doc_id residues so
    the oracle STATES the expected tuple — the text_html_extract
    pattern): brand cycles the three common major brands, mvhd
    alternates v0/v1 (64-bit duration), every 5th file wraps its moov
    in a 64-bit largesize box."""
    return {
        "brand": [b"isom", b"mp42", b"avc1"][doc_id % 3],
        "duration_ms": 1000 + doc_id % 9777,
        "width": 160 + 16 * (doc_id % 20),
        "height": 120 + 16 * (doc_id % 15),
        "n_video_tracks": 1 + doc_id % 3,
        "mvhd_version": doc_id % 2,
        "largesize_moov": doc_id % 5 == 0,
    }


def mp4_payload(doc_id: int) -> bytes:
    """REAL minimal ISO-BMFF container (ftyp + moov with v0/v1 mvhd and
    per-track tkhd boxes, optionally largesize-wrapped, + opaque
    mdat); the box walk (:func:`parse_mp4_meta`) is the crawl first
    mile for video — container structure without decoding a frame."""
    return make_mp4_meta(**mp4_meta_params(doc_id))


def flac_meta_params(doc_id: int) -> dict:
    """Per-doc FLAC fixture parameters (closed-form residues): the
    five common sample rates, the full 1-8 channel range, 8-24 bit
    depths, and a varying sample count whose duration the packed-field
    parse must recover exactly (total*1000 // rate)."""
    return {
        "sample_rate": [8000, 16000, 22050, 32000, 44100][doc_id % 5],
        "channels": 1 + doc_id % 8,
        "bits_per_sample": 8 + 4 * (doc_id % 5),
        "total_samples": 1000 + doc_id % 9973,
    }


def flac_payload(doc_id: int) -> bytes:
    """REAL FLAC header (fLaC magic, packed STREAMINFO, VORBIS_COMMENT
    + PADDING blocks the walker must skip, opaque frame bytes) — the
    MP4-meta contract for audio (:func:`parse_flac_meta`)."""
    return make_flac_meta(**flac_meta_params(doc_id))


def _positional_sums(decode: Callable[[bytes], tuple], payload: bytes) -> tuple[int, int, int, int]:
    """:func:`_value_sums` plus the position-weighted sum Σ p·v_p over
    the flattened top-down row-major array — a PERMUTATION-SENSITIVE
    projection: an Adam7 scatter that lands a pass on the wrong grid,
    or a GIF de-interlace that scatters rows to the wrong display
    positions, changes the weighted sum even though the value
    multiset (and so the plain sum) is untouched."""
    w, h, px = decode(payload)
    flat = px.astype(np.int64).ravel()
    return w, h, int(flat.sum()), int((np.arange(flat.size, dtype=np.int64) * flat).sum())


def jpeg12_dims(doc_id: int) -> tuple[int, int]:
    """12-bit fixture dimensions: 8-32 wide x 8-24 tall MCU multiples,
    a different sweep than the gray key's so the two single-component
    paths are independently shaped."""
    return 8 * (1 + doc_id % 4), 8 * (1 + doc_id % 3)


def jpeg12_payload(doc_id: int) -> bytes:
    """REAL 12-bit extended-sequential (SOF1) JPEG — 16-bit quant
    table, 12-bit level shift, DC categories past the 8-bit bound; the
    last Huffman-coded JPEG refusal, now a first-class decode surface.
    The ``'jpeg12'`` fixture is flat per 8x8 block with 12-BIT values
    (mod 4096): DC quant step 8 keeps the decode bit-exact, and the
    decoder's high-bits reduction makes each block contribute
    192*(v >> 4) to the 8-bit pixel_sum."""
    w, h = jpeg12_dims(doc_id)
    return make_jpeg12(
        w, h, _flat_blocks("jpeg12", doc_id, w, h, (8, 8), mod=4096, dtype=np.int64)
    )


def jpeg411_dims(doc_id: int) -> tuple[int, int]:
    """4:1:1 fixture dimensions: 32/64 wide x 8-32 tall (MCU = 32x8 —
    four horizontal Y blocks per chroma sample), always a real
    multi-MCU interleaved scan."""
    return 32 * (1 + doc_id % 2), 8 * (1 + doc_id % 4)


def jpeg411_payload(doc_id: int) -> bytes:
    """REAL 4:1:1-subsampled JPEG — sampling factor 4, past the old
    Hi/Vi<=2 bound: the DV/consumer-video layout, T.81's maximum
    horizontal factor. The ``'jpeg411'`` fixture is flat per 32x8 MCU:
    flat MCU regions survive BOTH loss stages (the 4x1 chroma mean of
    a flat run is exact; DC quant step 8 divides every flat block), so
    each MCU contributes 256 pixels x 3 channels x value."""
    w, h = jpeg411_dims(doc_id)
    gray = _flat_blocks("jpeg411", doc_id, w, h, (8, 32))
    return make_jpeg(w, h, _gray_rgb(gray), subsampling="4:1:1")


def wav_stats(payload: bytes) -> tuple[int, int, int, int, int, int]:
    """Per-file audio QUALITY statistics over the real WAV decode —
    the filter pass an audio-training pipeline runs before anything
    else (silence, clipping, and level screening): energy as the
    EXACT integer sum of squares (RMS is sqrt(sum_sq/n) downstream —
    the sqrt stays out of the comparable projection so every cell is
    integer), peak absolute amplitude, zero-crossing count (the
    cheapest spectral proxy; sign change = (prev<0) != (cur<0), zeros
    counted nonnegative), and samples pinned at full scale (±32767/
    -32768 — the clipping witness). Samples stay executor-side; six
    ints per file cross to the JVM."""
    rate, s = decode_wav(payload)
    s64 = s.astype(np.int64)
    neg = s64 < 0
    return (
        rate,
        len(s64),
        int((s64 * s64).sum()),
        int(np.abs(s64).max(initial=0)),
        int((neg[1:] != neg[:-1]).sum()),
        int(((s64 == 32767) | (s64 == -32768)).sum()),
    )


# --- EXIF (APP1/TIFF IFD) metadata — the crawl-real image metadata walk --------


def make_exif_app1(
    *, byte_order: str, orientation: int, make: str, datetime_str: str
) -> bytes:
    """Serialize a REAL Exif APP1 segment: 'Exif\\0\\0' identifier, a
    TIFF header in the requested byte order ('II' little- or 'MM'
    big-endian — both occur in real crawls), and IFD0 with three
    entries in ascending-tag order (the TIFF requirement): Make
    (0x010F, ASCII, stored at an offset), Orientation (0x0112, SHORT,
    inline left-justified in the 4-byte value slot per the spec), and
    DateTime (0x0132, ASCII 20 bytes, at an offset)."""
    if byte_order not in ("II", "MM"):
        raise ValueError("byte_order must be 'II' or 'MM'")
    e = "<" if byte_order == "II" else ">"
    make_b = make.encode() + b"\x00"
    dt_b = datetime_str.encode() + b"\x00"
    if len(dt_b) != 20:
        raise ValueError("Exif DateTime must be 19 chars + NUL")
    # header(8) + count(2) + 3 entries(36) + next-IFD(4) = value area at 50
    make_off = 50
    dt_off = make_off + len(make_b)

    def entry(tag: int, typ: int, count: int, value4: bytes) -> bytes:
        return struct.pack(f"{e}HHI", tag, typ, count) + value4

    tiff = (
        (b"II\x2a\x00" if e == "<" else b"MM\x00\x2a")
        + struct.pack(f"{e}I", 8)
        + struct.pack(f"{e}H", 3)
        + entry(0x010F, 2, len(make_b), struct.pack(f"{e}I", make_off))
        # SHORT values shorter than 4 bytes sit left-justified in the
        # value slot (T.6 / TIFF 6.0 §2): 2 value bytes then padding
        + entry(0x0112, 3, 1, struct.pack(f"{e}H", orientation) + b"\x00\x00")
        + entry(0x0132, 2, len(dt_b), struct.pack(f"{e}I", dt_off))
        + struct.pack(f"{e}I", 0)  # no next IFD
        + make_b
        + dt_b
    )
    body = b"Exif\x00\x00" + tiff
    return bytes([0xFF, 0xE1]) + struct.pack(">H", len(body) + 2) + body


def insert_exif(jpeg: bytes, app1: bytes) -> bytes:
    """Splice an APP1 segment into a JPEG right after SOI (APPn order
    is free in practice; Exif says APP1 first, which this satisfies)."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (bad SOI)")
    return jpeg[:2] + app1 + jpeg[2:]


def parse_exif(payload: bytes) -> tuple[str, int, str, str]:
    """REAL Exif walk: find the APP1 'Exif' segment in the JPEG marker
    stream, then parse the embedded TIFF — byte-order mark (II/MM),
    magic 42, IFD0 entry table — honoring inline-vs-offset value
    storage, and return (byte_order, orientation, make, datetime).
    Malformed TIFF structure (bad magic, truncated IFD, out-of-bounds
    value offsets) or a missing Exif segment refuse with ValueError —
    the corrupt-crawl contract of every parser in this module."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (bad SOI)")
    pos = 2
    tiff = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker desync while scanning for Exif")
        marker = payload[pos + 1]
        if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7 or marker == 0x01:
            pos += 2
            continue
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated JPEG segment while scanning for Exif")
        if marker == 0xE1 and body[:6] == b"Exif\x00\x00":
            tiff = body[6:]
            break
        if marker == 0xDA:
            break  # entropy data: no Exif before the scan means none
        pos += 2 + seglen
    if tiff is None:
        raise ValueError("JPEG payload carries no Exif APP1 segment")
    if tiff[:4] == b"II\x2a\x00":
        e, order = "<", "II"
    elif tiff[:4] == b"MM\x00\x2a":
        e, order = ">", "MM"
    else:
        raise ValueError("corrupt Exif TIFF header")
    (ifd_off,) = struct.unpack(f"{e}I", tiff[4:8])
    if ifd_off + 2 > len(tiff):
        raise ValueError("Exif IFD offset out of bounds")
    (n,) = struct.unpack(f"{e}H", tiff[ifd_off : ifd_off + 2])
    if ifd_off + 2 + 12 * n + 4 > len(tiff):
        raise ValueError("truncated Exif IFD entry table")

    def ascii_value(count: int, value4: bytes) -> str:
        if count <= 4:
            raw = value4[:count]
        else:
            (off,) = struct.unpack(f"{e}I", value4)
            if off + count > len(tiff):
                raise ValueError("Exif ASCII value offset out of bounds")
            raw = tiff[off : off + count]
        return raw.rstrip(b"\x00").decode("latin-1")

    orientation = None
    make = None
    dt = None
    for k in range(n):
        at = ifd_off + 2 + 12 * k
        tag, typ, count = struct.unpack(f"{e}HHI", tiff[at : at + 8])
        value4 = tiff[at + 8 : at + 12]
        if tag == 0x0112 and typ == 3:
            (orientation,) = struct.unpack(f"{e}H", value4[:2])
        elif tag == 0x010F and typ == 2:
            make = ascii_value(count, value4)
        elif tag == 0x0132 and typ == 2:
            dt = ascii_value(count, value4)
    if orientation is None or make is None or dt is None:
        raise ValueError("Exif IFD0 is missing Make/Orientation/DateTime")
    return order, orientation, make, dt


def exif_params(doc_id: int) -> dict:
    """Per-doc closed-form Exif fixture: alternating byte order, the
    full 1-8 orientation range, and residue-derived camera/date
    fields the oracle can state directly."""
    return {
        "byte_order": "II" if doc_id % 2 == 0 else "MM",
        "orientation": 1 + doc_id % 8,
        "make": f"cam{doc_id % 23}",
        "datetime_str": (
            f"2026:08:{1 + doc_id % 28:02d} "
            f"{doc_id % 24:02d}:{doc_id % 60:02d}:{(doc_id * 7) % 60:02d}"
        ),
    }


@functools.cache
def _exif_base_jpeg() -> bytes:
    """The smallest valid baseline JPEG: one flat 8x8 block."""
    return make_jpeg(8, 8, bytes([128]) * (8 * 8 * 3))


def jpeg_exif_payload(doc_id: int) -> bytes:
    """REAL Exif-bearing JPEG: the smallest valid baseline JPEG
    carrying an APP1 TIFF IFD in alternating byte order — the payload
    both decode_jpeg (which must SKIP the APP1) and parse_exif (which
    must walk it) accept."""
    return insert_exif(_exif_base_jpeg(), make_exif_app1(**exif_params(doc_id)))


def png_twin_payload(doc_id: int) -> bytes:
    """PNG payload for the image-dedup key: doc_ids >= 40M are PLANTED
    NEAR-DUP TWINS of doc_id - 40M — the SAME ``'png'`` pixel fixture
    with the first byte shifted by +48 (mod 256), i.e. a slightly-
    edited re-encode of the same picture; every other doc_id is
    exactly :func:`png_payload`. One changed pixel moves at most the
    three row-0 dHash bits whose sample grid touches x=0, so every
    twin pair sits within Hamming 3 of its original BY CONSTRUCTION —
    inside both the operator threshold and the pigeonhole band
    guarantee."""
    orig = doc_id - 40_000_000 if doc_id >= 40_000_000 else doc_id
    w, h = png_dims(orig)
    px = fixture_values("png", orig, w * h * 3)
    if doc_id >= 40_000_000:
        px[0] = (px[0] + 48) % 256
    return make_png(w, h, bytes(px))


# --- MP3 (MPEG-1 Layer III) frame-header walk — audio meta without decode ------

#: MPEG-1 Layer III bitrate table (kbps) indexed by the 4-bit header
#: field (index 0 = "free format", 15 = forbidden) and the 2-bit
#: sample-rate table — ISO 11172-3 §2.4.2.3.
_MP3_BITRATES = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
_MP3_RATES = [44100, 48000, 32000]


def make_mp3_meta(
    *, bitrate_kbps: int, sample_rate: int, n_frames: int, id3_size: int = 64
) -> bytes:
    """Serialize a REAL MPEG-1 Layer III frame sequence behind an
    ID3v2 tag: the tag header carries a SYNCSAFE size (7 bits per
    byte — the part naive readers get wrong), each audio frame starts
    with the 11-bit sync + version/layer/bitrate/samplerate fields,
    and frame LENGTH follows the spec formula
    144*bitrate/samplerate (+ padding bit, unset here). Frame payload
    bytes are an opaque stand-in — the honest boundary: the HEADER
    walk is what a crawl pipeline needs (bitrate/duration census);
    Huffman subband decode would need the full psychoacoustic stack
    and stays stubbed (the MP4/FLAC contract)."""
    bidx = _MP3_BITRATES.index(bitrate_kbps)
    ridx = _MP3_RATES.index(sample_rate)
    tag_body = b"\x00" * id3_size
    if id3_size >= 1 << 28:
        raise ValueError("ID3 size exceeds the syncsafe field")
    syncsafe = bytes(
        [(id3_size >> 21) & 0x7F, (id3_size >> 14) & 0x7F,
         (id3_size >> 7) & 0x7F, id3_size & 0x7F]
    )
    out = bytearray(b"ID3\x03\x00\x00" + syncsafe + tag_body)
    # header: FF FB = sync + MPEG-1 + Layer III + no CRC; then
    # bitrate(4) srate(2) pad(1) priv(1); mode byte fixed joint-stereo
    h3 = (bidx << 4) | (ridx << 2)
    frame_len = 144 * bitrate_kbps * 1000 // sample_rate
    for i in range(n_frames):
        frame = bytearray(frame_len)
        frame[0:4] = bytes([0xFF, 0xFB, h3, 0x80])
        frame[4:] = bytes((i + j) % 251 for j in range(frame_len - 4))
        out += frame
    return bytes(out)


def parse_mp3_meta(payload: bytes) -> tuple[int, int, int, int]:
    """REAL MP3 header walk: skip the ID3v2 tag by its SYNCSAFE size,
    then walk frame headers — verify sync, require MPEG-1 Layer III,
    look up bitrate/sample-rate from the spec tables, advance by the
    computed frame length (honoring the padding bit) — and return
    (bitrate_kbps, sample_rate, n_frames, duration_ms); duration is
    n_frames * 1152 samples at the declared rate, exact integer
    division. A broken sync mid-stream, a forbidden bitrate/rate
    index, or a truncated final frame refuses with ValueError — the
    corrupt-crawl contract. Constant-bitrate streams only (VBR needs
    the Xing header; refused explicitly, not guessed)."""
    pos = 0
    if payload[:3] == b"ID3":
        if len(payload) < 10:
            raise ValueError("truncated ID3v2 tag header")
        ss = payload[6:10]
        if any(b & 0x80 for b in ss):
            raise ValueError("ID3v2 size bytes must be syncsafe")
        pos = 10 + ((ss[0] << 21) | (ss[1] << 14) | (ss[2] << 7) | ss[3])
    bitrate = rate = None
    n_frames = 0
    while pos < len(payload):
        if pos + 4 > len(payload):
            raise ValueError("truncated MP3 frame header")
        b0, b1, b2, _b3 = payload[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            raise ValueError("broken MP3 frame sync")
        if (b1 & 0x18) != 0x18 or (b1 & 0x06) != 0x02:
            raise ValueError("unsupported MP3 variant: MPEG-1 Layer III only")
        bidx, ridx, padding = b2 >> 4, (b2 >> 2) & 0x3, (b2 >> 1) & 0x1
        if bidx in (0, 15) or ridx == 3:
            raise ValueError("forbidden MP3 bitrate/sample-rate index")
        fb, fr = _MP3_BITRATES[bidx], _MP3_RATES[ridx]
        if bitrate is None:
            bitrate, rate = fb, fr
        elif (fb, fr) != (bitrate, rate):
            raise ValueError(
                "variable-bitrate MP3 is not walked (Xing header support"
                " would be needed); constant-bitrate streams only"
            )
        frame_len = 144 * fb * 1000 // fr + padding
        if pos + frame_len > len(payload):
            raise ValueError("truncated MP3 frame body")
        pos += frame_len
        n_frames += 1
    if bitrate is None:
        raise ValueError("MP3 payload contains no audio frames")
    return bitrate, rate, n_frames, n_frames * 1152 * 1000 // rate


def mp3_meta_params(doc_id: int) -> dict:
    """Per-doc closed-form MP3 fixture: the common bitrate ladder,
    all three MPEG-1 sample rates, varying frame counts and ID3 tag
    sizes (including id3_size values whose syncsafe encoding carries
    multiple nonzero bytes)."""
    return {
        "bitrate_kbps": [64, 96, 128, 160, 192, 320][doc_id % 6],
        "sample_rate": _MP3_RATES[doc_id % 3],
        "n_frames": 3 + doc_id % 9,
        "id3_size": 32 + (doc_id % 5) * 100,
    }


def mp3_payload(doc_id: int) -> bytes:
    """REAL MP3 frame sequence (ID3v2 tag + CBR MPEG-1 Layer III
    headers with opaque frame bodies) for :func:`parse_mp3_meta`."""
    return make_mp3_meta(**mp3_meta_params(doc_id))


# --- the codec table and its two Spark paths ------------------------------------

#: Image decoders behind the :func:`decode_media` stub, by mime prefix:
#: (decoder, n_channels). GIF is palette-indexed: one channel.
_REAL_IMAGE_DECODERS = {
    "image/bmp": (decode_bmp, 3),
    "image/png": (decode_png, 3),
    "image/gif": (decode_gif, 1),
    "image/jpeg": (decode_jpeg, 3),
}

#: codec -> (mime, doc_id -> payload bytes): one row per encoder fixture.
ENCODERS: dict[str, tuple[str, Callable[[int], bytes]]] = {
    "bmp": ("image/bmp", bmp_payload),
    "wav": ("audio/wav", wav_payload),
    "png": ("image/png", png_payload),
    "png8": ("image/png", png8_payload),
    "png_interlaced": ("image/png", png_interlaced_payload),
    "png_rgba": ("image/png", png_rgba_payload),
    "png_twin": ("image/png", png_twin_payload),
    "gif": ("image/gif", gif_payload),
    "gif_interlaced": ("image/gif", gif_interlaced_payload),
    "jpeg": ("image/jpeg", jpeg_payload),
    "jpeg420": ("image/jpeg", jpeg420_payload),
    "jpeg411": ("image/jpeg", jpeg411_payload),
    "jpeg_dri": ("image/jpeg", jpeg_dri_payload),
    "jpeg_prog": ("image/jpeg", jpeg_prog_payload),
    "jpeg_gray": ("image/jpeg", jpeg_gray_payload),
    "jpeg12": ("image/jpeg", jpeg12_payload),
    "jpeg_exif": ("image/jpeg", jpeg_exif_payload),
    "mp4": ("video/mp4", mp4_payload),
    "flac": ("audio/flac", flac_payload),
    "mp3": ("audio/mpeg", mp3_payload),
}

_PIXEL_SUM = "doc_id long, width int, height int, pixel_sum long"

#: codec -> (output schema, payload bytes -> one row after doc_id): one
#: row per decoded projection. Schemas are flat DDL.
DECODERS: dict[str, tuple[str, Callable[[bytes], tuple]]] = {
    "bmp": (_PIXEL_SUM, functools.partial(_value_sums, decode_bmp)),
    "png": (_PIXEL_SUM, functools.partial(_value_sums, decode_png)),
    "jpeg": (_PIXEL_SUM, functools.partial(_value_sums, decode_jpeg)),
    "gif": (
        "doc_id long, width int, height int, index_sum long",
        functools.partial(_value_sums, decode_gif),
    ),
    "png_positional": (
        "doc_id long, width int, height int, pixel_sum long, pos_weighted_sum long",
        functools.partial(_positional_sums, decode_png),
    ),
    "gif_positional": (
        "doc_id long, width int, height int, index_sum long, pos_weighted_sum long",
        functools.partial(_positional_sums, decode_gif),
    ),
    "wav": (
        "doc_id long, sample_rate int, n_samples int, amp_sum long",
        wav_projection,
    ),
    "wav_stats": (
        "doc_id long, sample_rate int, n_samples int, sum_sq long, peak_abs int, "
        "n_zero_crossings int, n_clipped int",
        wav_stats,
    ),
    "mp4": (
        "doc_id long, brand string, duration_ms long, width int, height int, "
        "n_video_tracks int",
        parse_mp4_meta,
    ),
    "flac": (
        "doc_id long, sample_rate int, channels int, bits_per_sample int, "
        "total_samples long, duration_ms long",
        parse_flac_meta,
    ),
    "exif": (
        "doc_id long, byte_order string, orientation int, make string, datetime string",
        parse_exif,
    ),
    "mp3": (
        "doc_id long, bitrate_kbps int, sample_rate int, n_frames int, duration_ms long",
        parse_mp3_meta,
    ),
}


def spread_for_kernel(df: DataFrame) -> DataFrame:
    """Partition a compute-heavy Arrow kernel's input by COMPUTE, not
    by input bytes. File bin-packing sizes scan partitions by BYTES
    (maxPartitionBytes/openCostInBytes), which is right for scans and
    wrong for per-row-expensive Python kernels: the codec keys' input
    is a tiny id projection, so a small corpus bin-packs to ONE
    partition and the whole encode+decode pipeline serializes onto one
    core (measured: the JPEG key read 4.7 s single-partition vs 2.8 s
    over 10x MORE docs on a 32-file layout — r14 witness). One
    round-robin exchange of the id column decouples kernel parallelism
    from storage layout; the shuffled payload is the projected input
    (ids), which stays negligible at any corpus size."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def encode_codec(df: DataFrame, codec: str) -> DataFrame:
    """(doc_id, payload, media_meta) with REAL ``codec`` payloads built
    per row by its :data:`ENCODERS` function. The Arrow-batched kernel
    runs after :func:`spread_for_kernel`, so bytes are born
    executor-side and never leave as anything but the payload column;
    the metadata struct is attached JVM-side."""
    mime, payload = ENCODERS[codec]

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["doc_id"]
            yield pd.DataFrame({"doc_id": ids, "payload": [payload(int(d)) for d in ids]})

    out = spread_for_kernel(df).mapInPandas(_encode, schema="doc_id long, payload binary")
    return out.select("doc_id", "payload", _media_meta(F.col("payload"), mime))


def decode_codec(df: DataFrame, codec: str) -> DataFrame:
    """(doc_id, <codec columns>) from a (doc_id, payload) frame: the
    Arrow-batched kernel runs the ``codec`` row of :data:`DECODERS` on
    every payload executor-side; only the projection's ints and
    strings cross back to the JVM."""
    schema, project = DECODERS[codec]
    columns = [field.split()[0] for field in schema.split(",")]

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = [(d, *project(bytes(p))) for d, p in zip(pdf["doc_id"], pdf["payload"])]
            yield pd.DataFrame(rows, columns=columns)

    return df.mapInPandas(_decode, schema=schema)
