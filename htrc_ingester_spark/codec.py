"""Image codec + perceptual hash, hermetic (stdlib zlib + numpy only).

The container has no PIL/cv2, so per the build instructions the decode
step for *real* formats is stubbed while the Spark-side plumbing
(schemas, Arrow batch shapes, validation joins) is real and tested:

- ``fmt="png"``: a REAL minimal PNG codec (8-bit RGB, filter 0,
  stdlib zlib) — encode and decode round-trip losslessly.
- ``fmt="jpeg"``: a deterministic *fake-lossy* codec: pixels are
  quantized to multiples of 4 then stored in the same PNG container
  with a JPEG-marker ancillary tag. Quantization error ≤2/channel ⇒
  PSNR ≈ 42-48 dB, which exercises the PSNR≥40dB allclose validation
  path the target contract requires (BASELINE.json input_hint) without
  a real DCT codec. Swapping in PIL/turbojpeg on a real cluster is a
  one-function change (``decode_image``/``encode_image``).
- unsupported fmt: ``NotImplementedError`` (clearly-marked stub).

The validation-join discipline mirrors the reference's per-page
byteCount/checksum verification (HectorManager.java:451-489,
verify/Verifier.java:288-333): computed-vs-declared per row, failures
routed to an error channel instead of aborting the job.
"""

from __future__ import annotations

import functools
import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_JPEG_TAG = b"jPEGq04"  # ancillary marker distinguishing the fake-lossy path


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def _png_bytes(pix: np.ndarray, extra_chunks: list[tuple[bytes, bytes]] | None = None) -> bytes:
    h, w, _ = pix.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = b"".join(b"\x00" + pix[r].tobytes() for r in range(h))  # filter 0 per row
    out = [_PNG_SIG, _chunk(b"IHDR", ihdr)]
    for tag, payload in extra_chunks or []:
        out.append(_chunk(tag, payload))
    # level 1: PNG is lossless at any level, so pixels/phash/PSNR are
    # unaffected; encode is the fixture generator's hot path and level
    # 6 bought ~10% size for ~2x the CPU on random-noise pixels
    out.append(_chunk(b"IDAT", zlib.compress(raw, 1)))
    out.append(_chunk(b"IEND", b""))
    return b"".join(out)


def encode_image(pix: np.ndarray, fmt: str) -> bytes:
    """Encode an (h, w, 3) uint8 array. fmt ∈ {png, jpeg}."""
    pix = np.ascontiguousarray(pix, dtype=np.uint8)
    if fmt == "png":
        return _png_bytes(pix)
    if fmt == "jpeg":
        q = (pix.astype(np.int32) // 4 * 4 + 2).clip(0, 255).astype(np.uint8)
        return _png_bytes(q, extra_chunks=[(b"tEXt", _JPEG_TAG)])
    raise NotImplementedError(f"encode_image: unsupported fmt {fmt!r} (stub)")


def decode_image(data: bytes) -> np.ndarray:
    """Decode PNG-container bytes back to an (h, w, 3) uint8 array."""
    if data[:8] != _PNG_SIG:
        raise NotImplementedError("decode_image: non-PNG container (stub)")
    pos = 8
    w = h = None
    idat = []
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", payload[:10])
            if depth != 8 or ctype != 2:
                raise NotImplementedError("decode_image: only 8-bit RGB supported")
        elif tag == b"IDAT":
            idat.append(payload)
        pos += 12 + length
    raw = zlib.decompress(b"".join(idat))
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + w * 3)
    filt = rows[:, 0]
    if np.any(filt != 0):
        raise NotImplementedError("decode_image: only filter-0 rows supported")
    return rows[:, 1:].reshape(h, w, 3).copy()


def psnr_db(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio between two uint8 images (dB).

    Integer difference path: squared uint8 deltas are exact in int32
    and their float64 mean is exact below 2^53, so this is bit-identical
    to the float64 formulation at ~2x less allocation."""
    d = np.subtract(a, b, dtype=np.int32)
    mse = float(np.mean(d * d))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


# ---------------------------------------------------------------------------
# Perceptual hash: 64-bit DCT pHash (public algorithm: resize→DCT→
# top-left 8x8 low-frequency block→median threshold). numpy-only DCT-II.
# ---------------------------------------------------------------------------

_PHASH_SIZE = 32


_DCT_BASIS: dict[int, np.ndarray] = {}


def _dct_basis(n: int) -> np.ndarray:
    b = _DCT_BASIS.get(n)
    if b is None:
        k = np.arange(n)
        b = np.cos(np.pi / n * (k[None, :] + 0.5) * k[:, None])
        b[0, :] *= 1.0 / np.sqrt(2.0)
        b *= np.sqrt(2.0 / n)
        _DCT_BASIS[n] = b
    return b


_GRAY_W = np.array([0.299, 0.587, 0.114])


@functools.lru_cache(maxsize=4096)
def _resize_idx(h: int, w: int, size: int) -> tuple[np.ndarray, np.ndarray]:
    """Sample-index pairs per (h, w, size). Bounded LRU: a corpus with
    unbounded distinct dimensions must not grow executor memory without
    limit in long-lived workers; entries are cheap to rebuild."""
    ri = (np.arange(size) * h // size).clip(0, h - 1)
    ci = (np.arange(size) * w // size).clip(0, w - 1)
    return np.ix_(ri, ci)


def _resize_gray(pix: np.ndarray, size: int = _PHASH_SIZE) -> np.ndarray:
    """Deterministic box-ish resample to size×size grayscale (float64).

    Samples FIRST, then gray-converts the size² pixels — per-element
    identical to gray-then-sample (the channel dot commutes with row/
    column selection) at 1/(h·w/size²) of the flops. Sample-index pairs
    are cached per (h, w): the corpus has few distinct shapes."""
    h, w = pix.shape[:2]
    return pix[_resize_idx(h, w, size)].astype(np.float64) @ _GRAY_W


def phash64(pix: np.ndarray) -> int:
    """64-bit DCT perceptual hash of an (h, w, 3) uint8 image.

    Returned as a *signed* int64 (Spark LongType compatible)."""
    return int(phash64_batch(_resize_gray(pix)[None, :, :])[0])


def phash64_batch(grays: np.ndarray) -> np.ndarray:
    """Vectorized phash over a stack of pre-resized 32×32 grayscales
    ((n, 32, 32) float64) → (n,) int64. One broadcast matmul pair for
    the whole Arrow batch instead of n small DCTs — the per-row DCT
    dominated ``decode_validate``'s hot loop (90 µs/row → ~6 µs/row
    measured at batch 2000). Bit-identical to the scalar path
    (``phash64`` now delegates here; tests pin the vectors)."""
    basis = _dct_basis(_PHASH_SIZE)
    d = basis @ grays @ basis.T  # (n, 32, 32) via broadcasting
    flat = np.ascontiguousarray(d[:, :8, :8]).reshape(len(grays), 64)
    flat[:, 0] = 0.0  # drop DC term
    med = np.median(flat, axis=1, keepdims=True)
    bits = (flat > med).astype(np.uint64)
    shifts = np.arange(63, -1, -1, dtype=np.uint64)
    return np.bitwise_or.reduce(bits << shifts, axis=1).astype(np.int64)


def hamming64(a: int, b: int) -> int:
    return int(bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1"))


def hash_surrogate_ns(s: str) -> int:
    """Deterministic 63-bit FNV-1a of a string (process-salt-free,
    unlike ``hash()``) — keys per-image PRNG streams and fixtures."""
    h = 0xCBF29CE484222325
    for b in s.encode():
        h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h & 0x7FFFFFFFFFFFFFFF
