"""Image codecs in pure numpy + zlib (PIL is not available in this env).

Formats (the ``fmt`` column of the images table, FIXTURES.md §1):

* ``raw`` — uncompressed RGB, row-major, h*w*3 bytes.
* ``png`` — real PNG: 8-bit RGB color type 2, one IDAT, filter 0 on
  every scanline (encoder); the decoder handles all five standard
  filters so externally-produced PNGs decode too.

* ``bmp`` — real Windows BMP, BI_RGB 24-bit (bottom-up or top-down,
  BGR, 4-byte row padding, V3/V4/V5 headers) — interop with external
  encoders is pinned by a PIL-gated test (tests/test_codec.py) that
  roundtrips Pillow-encoded BMP/PNG through these decoders when
  Pillow is installed.

* ``jpg`` — real baseline JPEG (kernels/jpeg.py): from-scratch T.81
  baseline sequential decoder (tables read from the stream, any
  sampling factors, DRI/RSTn) and 4:4:4 encoder whose default
  quantizer keeps PSNR ≥ 42 dB — above the input_hint's 40 dB lossy
  gate; pinned on gradients AND uniform noise (the DCT worst case).

* ``q6`` — LOSSY: uniform 6-bit/channel quantization, 4 codes packed
  into 3 bytes (25% smaller than raw).  Mid-rise reconstruction
  (code*4+2) bounds the per-sample error at 2, so PSNR ≥
  20·log10(255/2) ≈ 42.1 dB on ANY image — the input_hint's lossy
  acceptance gate (PSNR ≥ 40 dB) holds by construction and is
  pytest-pinned (tests/test_codec.py).

``raw``/``png`` are lossless, so the per-row invariant (decoded pixels
allclose, PSNR ≥ 40 dB for lossy formats — BASELINE.json input_hint) is
exact for them; ``psnr`` implements the lossy gate.

These run inside ``mapInPandas`` batches (xutil_spark.raster.images) —
one Python call per Arrow batch, never per row.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def encode_raw(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → raw RGB bytes."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("expect (h, w, 3) uint8")
    return pixels.tobytes()


def decode_raw(data: bytes, w: int, h: int) -> np.ndarray:
    arr = np.frombuffer(data, dtype=np.uint8)
    if arr.size != w * h * 3:
        raise ValueError(f"raw size {arr.size} != {w}x{h}x3")
    return arr.reshape(h, w, 3)


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → PNG bytes (color type 2, filter 0)."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("expect (h, w, 3) uint8")
    h, w = pixels.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    # prepend filter byte 0 to each scanline
    raw = np.empty((h, w * 3 + 1), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = pixels.reshape(h, w * 3)
    idat = zlib.compress(raw.tobytes(), 6)
    return (
        _PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → (h, w, 3) uint8.  Supports 8-bit RGB (color type 2),
    all five scanline filters, no interlace.
    """
    if data[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, inter = struct.unpack(
                ">IIBBBBB", payload
            )
            if depth != 8 or ctype != 2 or inter != 0:
                raise ValueError(
                    f"unsupported PNG: depth={depth} ctype={ctype} interlace={inter}"
                )
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("no IHDR")
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8)
    stride = w * 3 + 1
    if raw.size != h * stride:
        raise ValueError("bad PNG payload size")
    raw = raw.reshape(h, stride)
    filters = raw[:, 0]
    out = np.zeros((h, w * 3), dtype=np.uint8)
    bpp = 3
    for row in range(h):
        f = filters[row]
        cur = raw[row, 1:].astype(np.int32)
        prev = out[row - 1].astype(np.int32) if row > 0 else np.zeros(w * 3, np.int32)
        if f == 0:
            line = cur
        elif f == 2:  # Up
            line = (cur + prev) & 0xFF
        elif f == 1:  # Sub: per-channel prefix sum mod 256 (vectorized)
            line = (
                cur.reshape(w, bpp).astype(np.int64).cumsum(axis=0) & 0xFF
            ).reshape(w * bpp).astype(np.int32)
        elif f in (3, 4):  # Average / Paeth: nonlinear left recurrence —
            # one Python step per COLUMN, all channels vectorized (bpp×
            # fewer interpreted iterations than per-byte; the floor/
            # argmin make a closed prefix form impossible)
            cur2 = cur.reshape(w, bpp)
            prev2 = prev.reshape(w, bpp)
            line2 = np.zeros((w, bpp), dtype=np.int32)
            left = np.zeros(bpp, dtype=np.int32)
            upleft = np.zeros(bpp, dtype=np.int32)
            if f == 3:
                for x in range(w):
                    left = (cur2[x] + ((left + prev2[x]) >> 1)) & 0xFF
                    line2[x] = left
            else:
                for x in range(w):
                    b2 = prev2[x]
                    p = left + b2 - upleft
                    pa = np.abs(p - left)
                    pb = np.abs(p - b2)
                    pc = np.abs(p - upleft)
                    pr = np.where(
                        (pa <= pb) & (pa <= pc), left,
                        np.where(pb <= pc, b2, upleft),
                    )
                    left = (cur2[x] + pr) & 0xFF
                    line2[x] = left
                    upleft = b2
            line = line2.reshape(w * bpp)
        else:
            raise ValueError(f"bad filter {f}")
        out[row] = line.astype(np.uint8)
    return out.reshape(h, w, 3)


def encode_q6(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → 6-bit/channel quantized stream, 4 codes per
    3 bytes (vectorized bit packing; the sample count w·h·3 is always a
    multiple of 4 for RGB when w·h is even, padded with zero codes
    otherwise — the decoder truncates by the known w·h·3)."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("expect (h, w, 3) uint8")
    codes = (pixels.reshape(-1) >> 2).astype(np.uint8)
    pad = (-codes.size) % 4
    if pad:
        codes = np.concatenate([codes, np.zeros(pad, np.uint8)])
    c = codes.reshape(-1, 4)
    out = np.empty((c.shape[0], 3), dtype=np.uint8)
    out[:, 0] = (c[:, 0] << 2) | (c[:, 1] >> 4)
    out[:, 1] = ((c[:, 1] & 0x0F) << 4) | (c[:, 2] >> 2)
    out[:, 2] = ((c[:, 2] & 0x03) << 6) | c[:, 3]
    return out.tobytes()


def decode_q6(data: bytes, w: int, h: int) -> np.ndarray:
    """q6 stream → (h, w, 3) uint8 with mid-rise reconstruction
    code*4+2 (max per-sample error 2 ⇒ PSNR ≥ 42.1 dB always)."""
    n = w * h * 3
    b = np.frombuffer(data, dtype=np.uint8)
    if b.size != ((n + 3) // 4) * 3:
        raise ValueError(f"q6 size {b.size} != packed {w}x{h}x3")
    b = b.reshape(-1, 3)
    c = np.empty((b.shape[0], 4), dtype=np.uint8)
    c[:, 0] = b[:, 0] >> 2
    c[:, 1] = ((b[:, 0] & 0x03) << 4) | (b[:, 1] >> 4)
    c[:, 2] = ((b[:, 1] & 0x0F) << 2) | (b[:, 2] >> 6)
    c[:, 3] = b[:, 2] & 0x3F
    codes = c.reshape(-1)[:n]
    return ((codes << 2) + 2).astype(np.uint8).reshape(h, w, 3)


def encode_bmp(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → Windows BMP (BITMAPINFOHEADER, BI_RGB 24-bit:
    bottom-up rows, BGR byte order, rows padded to 4 bytes) — the
    plainest *interchange* format real tools emit, proving the codec
    registry extends beyond this repo's own formats."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("expect (h, w, 3) uint8")
    h, w = pixels.shape[:2]
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    data = rows.tobytes()
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                       2835, 2835, 0, 0)
    return header + info + data


def decode_bmp(data: bytes) -> np.ndarray:
    """BMP bytes → (h, w, 3) uint8.  Supports the common case real
    encoders produce: BITMAPINFOHEADER (or larger V4/V5 headers),
    24-bit BI_RGB, top-down or bottom-up."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    (off,) = struct.unpack("<I", data[10:14])
    (hsize,) = struct.unpack("<I", data[14:18])
    if hsize < 40:
        raise ValueError(f"unsupported BMP header size {hsize}")
    w, h, planes, bpp, comp = struct.unpack("<iiHHI", data[18:34])
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={comp}")
    flip = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    raw = np.frombuffer(data, dtype=np.uint8,
                        count=h * stride, offset=off).reshape(h, stride)
    img = raw[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
    return (img[::-1] if flip else img).copy()


def _encode_jpg(pixels: np.ndarray) -> bytes:
    from xutil_spark.kernels.jpeg import encode_jpeg

    return encode_jpeg(pixels)


def _decode_jpg(data: bytes, w: int, h: int) -> np.ndarray:
    from xutil_spark.kernels.jpeg import decode_jpeg

    return decode_jpeg(bytes(data))


# fmt → (encode(pixels)->bytes, decode(data, w, h)->pixels); any format
# can be registered here — decode_image/encode_image dispatch through it
CODECS: dict = {
    "raw": (encode_raw, decode_raw),
    "png": (encode_png, lambda d, w, h: decode_png(bytes(d))),
    "bmp": (encode_bmp, lambda d, w, h: decode_bmp(bytes(d))),
    "jpg": (_encode_jpg, _decode_jpg),
    "q6": (encode_q6, decode_q6),
}


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    if fmt in CODECS:
        return CODECS[fmt][0](pixels)
    raise NotImplementedError(
        f"codec {fmt!r} not available in this environment (no PIL/ffmpeg); "
        "plumbing supports any fmt registered in CODECS"
    )


def decode_image(data: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    if fmt in CODECS:
        return CODECS[fmt][1](data, w, h)
    raise NotImplementedError(f"codec {fmt!r} not available")


def decode_stats(data, w, h, fmt) -> tuple[np.ndarray, np.ndarray]:
    """Decode each image of a batch (parallel ``bytes``/``w``/``h``/``fmt``
    columns) → ``(means, px_sum)``: per-image RGB channel means rounded
    to 6 dp as an (n, 3) float64 array, and the int64 sum of all pixel
    values.  The one per-row loop of every decode-stats operator."""
    n = len(data)
    means = np.empty((n, 3), dtype=np.float64)
    px_sum = np.empty(n, dtype=np.int64)
    for i, (d, wi, hi, f) in enumerate(zip(data, w, h, fmt)):
        px = decode_image(bytes(d), int(wi), int(hi), f)
        m = px.reshape(-1, 3).mean(axis=0)
        means[i] = [round(float(v), 6) for v in m]
        px_sum[i] = int(px.astype(np.int64).sum())
    return means, px_sum


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images
    (inf when identical) — the lossy-format acceptance gate (≥ 40 dB).
    """
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    mse = np.mean((a - b) ** 2)
    if mse == 0:
        return float("inf")
    return float(20.0 * np.log10(255.0) - 10.0 * np.log10(mse))
