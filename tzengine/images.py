"""Image payload: deterministic synthesis, raw/PNG codecs, PSNR, phash.

The input table carries opaque image bytes (input_hint: image_id, bytes,
w, h, fmt, caption, phash). No image library exists in this environment,
so the codecs are implemented from the public specs directly:

- ``raw``: C-order uint8 RGB buffer (lossless).
- ``png``: real PNG (RFC 2083 layout — IHDR / IDAT(zlib, filter 0) /
  IEND with CRC32), 8-bit RGB, filter type 0 on every scanline. Lossless;
  decodable by any standards-compliant reader.
- ``q6``: a deterministic lossy stand-in (6-bit-per-channel quantization
  of the raw buffer, ~46 dB) so the PSNR>=40dB gate has a real lossy
  path to test.

All functions are batch/vectorized-friendly and deterministic — they run
inside mapInArrow bodies (no per-row Python at the DataFrame level; the
per-row loop lives inside the Arrow batch, like the probe). A format
beyond these three raises ValueError: there is no decoder to call.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

FORMATS = ("raw", "png", "q6")
LOSSLESS = {"raw", "png"}


# --- synthesis ---------------------------------------------------------------


def synth_image(i: int, w: int, h: int) -> np.ndarray:
    """Deterministic RGB8 image for row ``i``: smooth gradients + seeded
    noise. Pure function of (i, w, h) — restart-stable (seed derived from
    the row, FIXTURES.md T1 seed=42 convention)."""
    rng = np.random.default_rng([42, i, w, h])
    yy, xx = np.mgrid[0:h, 0:w]
    r = ((xx * 255) // max(w - 1, 1)).astype(np.uint8)
    g = ((yy * 255) // max(h - 1, 1)).astype(np.uint8)
    b = ((xx + yy + i) % 256).astype(np.uint8)
    img = np.stack([r, g, b], axis=-1)
    noise = rng.integers(0, 32, size=img.shape, dtype=np.uint8)
    return (img.astype(np.uint16) + noise).clip(0, 255).astype(np.uint8)


# --- codecs ------------------------------------------------------------------


def encode_raw(img: np.ndarray) -> bytes:
    return img.astype(np.uint8).tobytes()


def decode_raw(data: bytes, w: int, h: int) -> np.ndarray:
    return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(img: np.ndarray) -> bytes:
    h, w = img.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    # filter byte 0 per scanline
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), img.reshape(h, w * 3)], axis=1
    ).tobytes()
    idat = zlib.compress(raw, level=6)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG stream")
    pos = 8
    w = h = None
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        crc_stored = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])[0]
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc_stored:
            raise ValueError(f"PNG chunk CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", payload[:10])
            if depth != 8 or ctype != 2:
                raise NotImplementedError("only 8-bit RGB PNG supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, w * 3 + 1)
    filters = raw[:, 0]
    if not np.all(filters == 0):
        raise NotImplementedError("only filter type 0 supported")
    return raw[:, 1:].reshape(h, w, 3).copy()


def encode_q6(img: np.ndarray) -> bytes:
    """Lossy: keep the top 6 bits per channel (deterministic)."""
    return (img & 0xFC).astype(np.uint8).tobytes()


def decode_q6(data: bytes, w: int, h: int) -> np.ndarray:
    q = np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)
    # midpoint reconstruction keeps |error| <= 2 per channel (~46 dB)
    return (q | 0x02).astype(np.uint8)


def encode(img: np.ndarray, fmt: str) -> bytes:
    if fmt == "raw":
        return encode_raw(img)
    if fmt == "png":
        return encode_png(img)
    if fmt == "q6":
        return encode_q6(img)
    raise ValueError(f"unknown fmt: {fmt}")


def decode(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    if fmt == "raw":
        return decode_raw(data, w, h)
    if fmt == "png":
        return decode_png(data)
    if fmt == "q6":
        return decode_q6(data, w, h)
    raise ValueError(f"unknown fmt: {fmt}")


# --- fidelity metrics --------------------------------------------------------


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB (inf for identical images)."""
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    mse = np.mean((a - b) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))


def grayscale(img: np.ndarray) -> np.ndarray:
    return (
        0.299 * img[..., 0] + 0.587 * img[..., 1] + 0.114 * img[..., 2]
    ).astype(np.float64)


def phash64(img: np.ndarray) -> int:
    """Average-hash over an 8x8 block-mean downsample of the grayscale
    image → signed int64 (bit i set when block mean > global mean)."""
    g = grayscale(img)
    h, w = g.shape
    ys = (np.arange(9) * h // 8).clip(1, h)
    xs = (np.arange(9) * w // 8).clip(1, w)
    blocks = np.empty((8, 8))
    for by in range(8):
        for bx in range(8):
            y0, y1 = ys[by], max(ys[by + 1], ys[by] + 1)
            x0, x1 = xs[bx], max(xs[bx + 1], xs[bx] + 1)
            blocks[by, bx] = g[y0 - 1 : y1, x0 - 1 : x1].mean()
    bits = (blocks > blocks.mean()).ravel()
    val = np.uint64(0)
    for i, bit in enumerate(bits):
        if bit:
            val |= np.uint64(1) << np.uint64(i)
    return int(val.astype(np.int64))


def hamming64(a: int, b: int) -> int:
    return int(bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1"))
