"""Zero-dependency media codecs: PNG (stdlib zlib), 24-bit uncompressed
BMP, and 16-bit PCM WAV, in pure ``struct`` + ``zlib`` + numpy — plus
baseline JPEG re-exported from :mod:`evalidate_spark.functions.jpeg`
(pure numpy Huffman + DCT, T.81 spec).

All four image/audio formats are public and library-free here, which
makes the multimodal pipeline's decode step REAL for the dominant
real-world image formats (JPEG lossy, PNG lossless) plus uncompressed
payloads in this sandbox (no PIL/soundfile/ffmpeg available): images
decode to ``uint8 [H, W, 3]`` arrays, audio to ``int16`` sample arrays.
Video containers still require external libraries and raise
``NotImplementedError`` in :func:`evalidate_spark.functions.multimodal`'s
strict mode.

Format notes:

* PNG: 8-byte signature, big-endian length-typed chunks with CRC32;
  IHDR (dims, bit depth, color type), IDAT (zlib-deflated scanlines, each
  prefixed by a filter-type byte — None/Sub/Up/Average/Paeth), IEND.
  Decoder accepts 8-bit gray / gray+alpha / RGB / RGBA, non-interlaced;
  encoder emits 8-bit RGB with filter 0.
* BMP: ``BM`` header + BITMAPINFOHEADER (40 bytes), 24 bpp, BI_RGB
  (uncompressed), rows bottom-up, BGR byte order, rows padded to 4-byte
  multiples.
* WAV: ``RIFF``/``WAVE`` with a 16-byte PCM ``fmt `` chunk (mono,
  16-bit) followed by a ``data`` chunk.
"""

from __future__ import annotations

import struct
import zlib
from typing import Tuple

import numpy as np

from .jpeg import decode_jpeg, encode_jpeg  # noqa: F401  (codec namespace)

BMP_HEADER_SIZE = 14
DIB_HEADER_SIZE = 40


def encode_bmp(pixels: np.ndarray) -> bytes:
    """uint8 ``[H, W, 3]`` RGB → 24-bit uncompressed BMP bytes."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("expected [H, W, 3] RGB array")
    h, w = px.shape[:2]
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    # bottom-up rows, BGR order, padded
    bgr = px[::-1, :, ::-1]
    rows = bytearray()
    zero = b"\x00" * pad
    for r in range(h):
        rows += bgr[r].tobytes() + zero
    image_size = len(rows)
    offset = BMP_HEADER_SIZE + DIB_HEADER_SIZE
    header = struct.pack("<2sIHHI", b"BM", offset + image_size, 0, 0, offset)
    dib = struct.pack(
        "<IiiHHIIiiII", DIB_HEADER_SIZE, w, h, 1, 24, 0, image_size, 2835, 2835, 0, 0
    )
    return header + dib + bytes(rows)


def decode_bmp(data: bytes) -> np.ndarray:
    """24-bit uncompressed BMP bytes → uint8 ``[H, W, 3]`` RGB array."""
    if len(data) < BMP_HEADER_SIZE + DIB_HEADER_SIZE or data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = struct.unpack_from("<I", data, 10)[0]
    dib_size, w, h, planes, bpp, compression = struct.unpack_from("<IiiHHI", data, 14)
    if bpp != 24 or compression != 0:
        raise NotImplementedError("only 24-bit uncompressed BMP supported")
    flip = h > 0
    h = abs(h)
    row_bytes = w * 3
    stride = row_bytes + ((-row_bytes) % 4)
    px = np.zeros((h, w, 3), dtype=np.uint8)
    for r in range(h):
        row = np.frombuffer(data, dtype=np.uint8, count=row_bytes, offset=offset + r * stride)
        px[r] = row.reshape(w, 3)
    if flip:
        px = px[::-1]
    return px[:, :, ::-1].copy()  # BGR → RGB


def resize_nearest(pixels: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbour resample via numpy index maps (no interpolation
    libraries needed; deterministic)."""
    h, w = pixels.shape[:2]
    ys = (np.arange(height) * h // height).clip(0, h - 1)
    xs = (np.arange(width) * w // width).clip(0, w - 1)
    return pixels[ys][:, xs]


PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

# color type → samples per pixel (8-bit depth): gray, RGB, gray+alpha, RGBA
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray, level: int = 6) -> bytes:
    """uint8 ``[H, W, 3]`` RGB → PNG bytes (8-bit truecolor, filter 0 per
    scanline, one zlib-deflated IDAT)."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("expected [H, W, 3] RGB array")
    h, w = px.shape[:2]
    raw = b"".join(b"\x00" + px[r].tobytes() for r in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        PNG_SIGNATURE
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, level))
        + _png_chunk(b"IEND", b"")
    )


def _png_unfilter_row(
    ftype: int, cur: np.ndarray, prev: np.ndarray, bpp: int
) -> np.ndarray:
    """Reconstruct one scanline per the PNG filter spec (types 0-4).
    Up is vectorised; Sub/Average/Paeth recur on the pixel to the left so
    they run as byte loops (encode side always emits filter 0, so
    roundtrips never hit the loops)."""
    if ftype == 0:  # None
        return cur.copy()
    if ftype == 2:  # Up — uint8 addition wraps mod 256, as the spec requires
        return cur + prev
    out = cur.copy()
    n = len(out)
    if ftype == 1:  # Sub
        for i in range(bpp, n):
            out[i] = (int(out[i]) + int(out[i - bpp])) & 0xFF
    elif ftype == 3:  # Average
        for i in range(n):
            left = int(out[i - bpp]) if i >= bpp else 0
            out[i] = (int(cur[i]) + ((left + int(prev[i])) >> 1)) & 0xFF
    elif ftype == 4:  # Paeth
        for i in range(n):
            a = int(out[i - bpp]) if i >= bpp else 0  # left
            b = int(prev[i])  # up
            c = int(prev[i - bpp]) if i >= bpp else 0  # up-left
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[i] = (int(cur[i]) + pred) & 0xFF
    else:
        raise ValueError("bad PNG filter type %d" % ftype)
    return out


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → uint8 ``[H, W, 3]`` RGB array.  Accepts 8-bit gray /
    gray+alpha / RGB / RGBA, non-interlaced (alpha dropped, gray
    replicated); walks the chunk list verifying CRCs, concatenating IDATs,
    inflating with stdlib zlib, and un-filtering every scanline."""
    if len(data) < len(PNG_SIGNATURE) or data[: len(PNG_SIGNATURE)] != PNG_SIGNATURE:
        raise ValueError("not a PNG payload")
    pos = len(PNG_SIGNATURE)
    ihdr = None
    idat = bytearray()
    while pos + 8 <= len(data):
        length, ctype = struct.unpack_from(">I4s", data, pos)
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError("PNG chunk CRC mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or color not in _PNG_CHANNELS or comp != 0 or filt != 0:
        raise NotImplementedError(
            "only 8-bit gray/RGB/alpha non-interlaced PNG supported"
        )
    if interlace != 0:
        raise NotImplementedError("Adam7-interlaced PNG not supported")
    bpp = _PNG_CHANNELS[color]
    stride = w * bpp
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG pixel data size mismatch")
    px = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for r in range(h):
        off = r * (stride + 1)
        cur = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=off + 1)
        prev = _png_unfilter_row(raw[off], cur, prev, bpp)
        px[r] = prev
    px = px.reshape(h, w, bpp)
    if color == 0:  # gray
        return np.repeat(px, 3, axis=2)
    if color == 4:  # gray+alpha
        return np.repeat(px[:, :, :1], 3, axis=2)
    if color == 6:  # RGBA
        return px[:, :, :3].copy()
    return px.copy()  # RGB


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """int16 mono samples → PCM WAV bytes."""
    pcm = np.asarray(samples, dtype="<i2").tobytes()
    byte_rate = rate * 2
    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, rate, byte_rate, 2, 16)
    data = struct.pack("<4sI", b"data", len(pcm)) + pcm
    riff = struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + len(data), b"WAVE")
    return riff + fmt + data


def decode_wav(data: bytes) -> Tuple[np.ndarray, int]:
    """PCM WAV bytes → (int16 sample array, sample rate).  Walks the RIFF
    chunk list, so extra chunks (LIST/INFO) are tolerated."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, rate, samples = 12, None, None
    while pos + 8 <= len(data):
        cid, size = struct.unpack_from("<4sI", data, pos)
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_fmt, channels, rate, _, _, bits = struct.unpack_from("<HHIIHH", body, 0)
            if audio_fmt != 1 or bits != 16 or channels != 1:
                raise NotImplementedError("only mono 16-bit PCM supported")
        elif cid == b"data":
            samples = np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size % 2)
    if rate is None or samples is None:
        raise ValueError("missing fmt/data chunk")
    if rate == 0:
        raise ValueError("WAV sample rate is 0")
    return samples, rate
