"""Pure-numpy image codecs + perceptual hash.

The sandbox has no PIL/imageio/scipy, and ``BASELINE.json.input_hint``
requires per-row invariants "decoded pixels allclose (PSNR>=40dB for
lossy) + caption byte-equal", so all four formats are implemented here
from their public specifications:

- ``ppm``  — binary P6 (netpbm spec), lossless
- ``bmp``  — 24-bit BI_RGB Windows bitmap (bottom-up, 4-byte row pad), lossless
- ``png``  — PNG (RFC 2083): 8-bit RGB, zlib IDAT, filters 0-4 on decode,
             filter 0 on encode; CRC-checked chunks
- ``dct``  — our own lossy codec: 8x8 block DCT-II + uniform quantization +
             zlib, tuned for PSNR >= 40 dB (the north-rule gate)

Everything operates on uint8 arrays of shape (h, w, 3) and is vectorized;
decode of a batch happens inside ``mapInArrow`` (see
``gjspark/operators/multimodal.py``).

The reference repo has no image path at all (it is a GeoJSON importer);
this module exists for the graft-cell image payload.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# PPM (binary P6)
# ---------------------------------------------------------------------------


def encode_ppm(img: np.ndarray) -> bytes:
    h, w, _ = img.shape
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


def decode_ppm(data: bytes) -> np.ndarray:
    if not data.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    # header: magic, whitespace-separated w h maxval, single whitespace, raster
    parts = []
    idx = 2
    while len(parts) < 3:
        while idx < len(data) and data[idx : idx + 1].isspace():
            idx += 1
        if data[idx : idx + 1] == b"#":  # comment to EOL
            idx = data.index(b"\n", idx) + 1
            continue
        start = idx
        while idx < len(data) and not data[idx : idx + 1].isspace():
            idx += 1
        parts.append(int(data[start:idx]))
    idx += 1  # single whitespace after maxval
    w, h, maxval = parts
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    return np.frombuffer(data, dtype=np.uint8, count=w * h * 3, offset=idx).reshape(
        h, w, 3
    )


# ---------------------------------------------------------------------------
# BMP (24-bit BI_RGB)
# ---------------------------------------------------------------------------


def encode_bmp(img: np.ndarray) -> bytes:
    h, w, _ = img.shape
    row_bytes = w * 3
    pad = (4 - row_bytes % 4) % 4
    img_size = (row_bytes + pad) * h
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 14 + 40
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    rows = img[::-1, :, ::-1].astype(np.uint8)  # bottom-up, BGR
    if pad:
        padded = np.zeros((h, row_bytes + pad), dtype=np.uint8)
        padded[:, :row_bytes] = rows.reshape(h, row_bytes)
        body = padded.tobytes()
    else:
        body = rows.tobytes()
    return header + body


def decode_bmp(data: bytes) -> np.ndarray:
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    offset = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:
        raise ValueError("unsupported BMP header")
    w, h = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    comp = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError("only 24-bit BI_RGB supported")
    flip = h > 0
    h = abs(h)
    row_bytes = w * 3
    stride = (row_bytes + 3) & ~3
    raw = np.frombuffer(data, dtype=np.uint8, count=stride * h, offset=offset)
    rows = raw.reshape(h, stride)[:, :row_bytes].reshape(h, w, 3)
    if flip:
        rows = rows[::-1]
    return np.ascontiguousarray(rows[:, :, ::-1])  # BGR -> RGB


# ---------------------------------------------------------------------------
# PNG (8-bit RGB, filters 0-4)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray, level: int = 6) -> bytes:
    h, w, _ = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit, color type 2 (RGB)
    raw = np.empty((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 0] = 0  # filter type None per scanline
    raw[:, 1:] = img.reshape(h, w * 3)
    idat = zlib.compress(raw.tobytes(), level)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    if data[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG")
    idx = len(_PNG_SIG)
    w = h = None
    idat = bytearray()
    while idx < len(data):
        (length,) = struct.unpack_from(">I", data, idx)
        tag = data[idx + 4 : idx + 8]
        payload = data[idx + 8 : idx + 8 + length]
        crc = struct.unpack_from(">I", data, idx + 8 + length)[0]
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if (depth, ctype, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise ValueError("only 8-bit RGB non-interlaced PNG supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        idx += 12 + length
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    bpp = 3
    stride = 1 + w * bpp
    raw = raw.reshape(h, stride)
    ftypes = raw[:, 0]
    out = np.zeros((h, w * bpp), dtype=np.uint8)
    if (ftypes == 0).all():  # fast path (our encoder)
        out[:] = raw[:, 1:]
        return out.reshape(h, w, 3)
    for r in range(h):  # general path: row-sequential, vectorized within row
        line = raw[r, 1:].astype(np.uint8).copy()
        ft = ftypes[r]
        prior = out[r - 1] if r > 0 else np.zeros(w * bpp, dtype=np.uint8)
        if ft == 0:
            out[r] = line
        elif ft == 1:  # Sub
            acc = line.reshape(w, bpp).astype(np.int64)
            np.cumsum(acc, axis=0, out=acc)
            out[r] = (acc % 256).astype(np.uint8).reshape(-1)
        elif ft == 2:  # Up
            out[r] = line + prior
        elif ft == 3:  # Average
            cur = np.zeros(w * bpp, dtype=np.uint8)
            for x in range(w * bpp):
                left = int(cur[x - bpp]) if x >= bpp else 0
                cur[x] = (int(line[x]) + ((left + int(prior[x])) >> 1)) & 0xFF
            out[r] = cur
        elif ft == 4:  # Paeth
            cur = np.zeros(w * bpp, dtype=np.uint8)
            for x in range(w * bpp):
                a = int(cur[x - bpp]) if x >= bpp else 0
                c = int(prior[x - bpp]) if x >= bpp else 0
                b = int(prior[x])
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (int(line[x]) + pred) & 0xFF
            out[r] = cur
        else:
            raise ValueError(f"bad PNG filter {ft}")
    return out.reshape(h, w, 3)


# ---------------------------------------------------------------------------
# DCT lossy codec (ours): 8x8 DCT-II blocks, uniform quantization, zlib
# ---------------------------------------------------------------------------

_DCT_MAGIC = b"GJD1"


def _dct_matrix(n: int = 8) -> np.ndarray:
    k = np.arange(n)[:, None]
    x = np.arange(n)[None, :]
    m = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * x + 1) * k / (2 * n))
    m[0] = np.sqrt(1.0 / n)
    return m


_D8 = _dct_matrix(8)
_D8T = _D8.T


def _blockify(chan: np.ndarray) -> tuple[np.ndarray, int, int]:
    h, w = chan.shape
    ph, pw = (8 - h % 8) % 8, (8 - w % 8) % 8
    padded = np.pad(chan, ((0, ph), (0, pw)), mode="edge")
    H, W = padded.shape
    blocks = padded.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3)
    return blocks.reshape(-1, 8, 8), H, W


def encode_dct(img: np.ndarray, q: int = 4) -> bytes:
    """Lossy encode. q=4 keeps PSNR well above 40 dB."""
    h, w, c = img.shape
    payload = bytearray()
    for ch in range(c):
        blocks, H, W = _blockify(img[:, :, ch].astype(np.float64) - 128.0)
        coeff = _D8 @ blocks @ _D8T
        quant = np.round(coeff / q).astype(np.int16)
        payload += quant.tobytes()
    body = zlib.compress(bytes(payload), 6)
    return _DCT_MAGIC + struct.pack("<HHBB", w, h, c, q) + body


def decode_dct(data: bytes) -> np.ndarray:
    if data[:4] != _DCT_MAGIC:
        raise ValueError("not a GJD1 DCT stream")
    w, h, c, q = struct.unpack_from("<HHBB", data, 4)
    raw = zlib.decompress(data[10:])
    H, W = ((h + 7) & ~7), ((w + 7) & ~7)
    n_blocks = (H // 8) * (W // 8)
    out = np.empty((h, w, c), dtype=np.uint8)
    per_chan = n_blocks * 64 * 2
    for ch in range(c):
        quant = np.frombuffer(
            raw, dtype=np.int16, count=n_blocks * 64, offset=ch * per_chan
        ).reshape(-1, 8, 8)
        blocks = _D8T @ (quant.astype(np.float64) * q) @ _D8
        grid = blocks.reshape(H // 8, W // 8, 8, 8).transpose(0, 2, 1, 3).reshape(H, W)
        out[:, :, ch] = np.clip(np.round(grid + 128.0), 0, 255).astype(np.uint8)[
            :h, :w
        ]
    return out


# ---------------------------------------------------------------------------
# dispatch + metrics + phash
# ---------------------------------------------------------------------------

from gjspark.functions.gif import decode_gif, encode_gif  # noqa: E402
from gjspark.functions.jpeg import decode_jpeg, encode_jpeg  # noqa: E402
from gjspark.functions.webp import decode_webp, encode_webp  # noqa: E402

_ENCODERS = {
    "ppm": encode_ppm,
    "bmp": encode_bmp,
    "png": encode_png,
    "dct": encode_dct,
    # quality 97 keeps the corpus-wide PSNR >= 40 dB lossy invariant
    "jpeg": lambda img: encode_jpeg(img, 97),
    "webp": encode_webp,
    # palette format: caller must quantize to <= 256 colors first
    # (the fixture corpus stores gif rows pre-palettized, see gif.py)
    "gif": encode_gif,
}
_DECODERS = {
    "ppm": decode_ppm,
    "bmp": decode_bmp,
    "png": decode_png,
    "dct": decode_dct,
    "jpeg": decode_jpeg,
    "jpg": decode_jpeg,
    "webp": decode_webp,
    "gif": decode_gif,
}
# gif counts as lossless because its corpus rows are palettized at the
# source: round trips over <= 256-color input are exact by construction
LOSSLESS = {"ppm", "bmp", "png", "webp", "gif"}


class CodecError(ValueError):
    """Unknown format or malformed payload: the one error ``decode_image``
    raises for bad input. The decode call sites catch it and mark the row
    failed instead of failing the task; it is a ``ValueError`` for callers
    that catch that."""


def encode_image(img: np.ndarray, fmt: str) -> bytes:
    return _ENCODERS[fmt](img)


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    try:
        decode = _DECODERS[fmt]
    except KeyError:
        raise CodecError(f"unknown image format {fmt!r}") from None
    try:
        return decode(bytes(data))
    except (ValueError, struct.error, zlib.error) as e:
        # the raw parsers hit struct.error on cut headers and zlib.error
        # on corrupt deflate streams
        raise CodecError(f"malformed {fmt}: {e}") from e


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10 * np.log10(255.0**2 / mse))


_D32 = _dct_matrix(32)


def _resize_matrix(src: int, dst: int = 32) -> np.ndarray:
    """(dst, src) row-stochastic block-mean resampling matrix."""
    edges = (np.arange(dst + 1) * src) / dst
    m = np.zeros((dst, src))
    for r in range(dst):
        lo, hi = edges[r], edges[r + 1]
        for c in range(int(np.floor(lo)), int(np.ceil(hi))):
            m[r, c] = min(hi, c + 1) - max(lo, c)
    return m / m.sum(axis=1, keepdims=True)


# ---------------------------------------------------------------------------
# Exact integer resampling kernels
#
# BLAS GEMM results depend on matrix SIZE (blocking changes the float
# accumulation order), so any value computed by a batched matmul over a
# whole Arrow batch would differ run-to-run with partitioning, batch
# boundaries, or BLAS build — violating the engine's determinism gate
# (same hash at local[8] and local[32]). The fix is arithmetic, not
# call-shape discipline: keep every operand an INTEGER held in float64.
# Products and partial sums stay below 2^53, every intermediate is exact,
# and the result is the same for ANY accumulation order — so the kernels
# below may batch thousands of images into two large GEMMs and remain
# bit-reproducible across batch size, partitioning, BLAS library, and
# hardware. The final division/rint is a single correctly-rounded float64
# op per output element, also deterministic.
# ---------------------------------------------------------------------------

_RM_INT_CACHE: dict[tuple[int, int], np.ndarray] = {}


def _rm_int(src: int, dst: int = 32) -> np.ndarray:
    """Integer numerator of the block-mean matrix: K with rm == K/src.

    Exact because the row edges r*src/dst are dyadic for dst=32 (power of
    two), so the unnormalized coverage entries are exact multiples of
    1/dst and K = m*dst is integral. Row sums of K equal src.
    """
    if dst & (dst - 1):
        raise ValueError("dst must be a power of two for the exact kernel")
    key = (src, dst)
    if key not in _RM_INT_CACHE:
        edges = (np.arange(dst + 1) * src) / dst
        m = np.zeros((dst, src))
        for r in range(dst):
            lo, hi = edges[r], edges[r + 1]
            for c in range(int(np.floor(lo)), int(np.ceil(hi))):
                m[r, c] = min(hi, c + 1) - max(lo, c)
        k = m * dst
        if not np.array_equal(k, np.rint(k)):
            raise AssertionError("resize numerators are not integral")
        if np.abs(k.sum(axis=1) - src).max() != 0:
            raise AssertionError("resize numerator rows must sum to src")
        _RM_INT_CACHE[key] = np.rint(k)
    return _RM_INT_CACHE[key]


def _exact_sandwich(L: np.ndarray, G: np.ndarray, R: np.ndarray) -> np.ndarray:
    """L @ G @ R.T over the last two axes of ``G`` via two large GEMMs.

    All three operands must be integer-valued float64 (checked by bound,
    not per-element): the result is then EXACT — independent of batch
    size, restructuring, and BLAS blocking.
    """
    h, w = G.shape[-2], G.shape[-1]
    gmax = float(np.abs(G).max(initial=0.0))
    bound = np.abs(L).max() * h * gmax * max(np.abs(R).max() * w, 1.0)
    if bound >= 2.0**53:
        raise AssertionError("exact sandwich bound exceeded (would lose exactness)")
    X = np.ascontiguousarray(np.moveaxis(G, -2, 0), dtype=np.float64)
    A = (L @ X.reshape(h, -1)).reshape((L.shape[0],) + G.shape[:-2] + (w,))
    Y = np.ascontiguousarray(np.moveaxis(A, 0, -2))
    B = Y.reshape(-1, w) @ R.T
    return B.reshape(G.shape[:-2] + (L.shape[0], R.shape[0]))


def to_chanfirst_f64(stack: np.ndarray) -> np.ndarray:
    """(n, h, w, 3) uint8 -> (n, 3, h, w) float64 contiguous — the shared
    cast every exact GEMM kernel below consumes (build it once per batch)."""
    return np.ascontiguousarray(stack.transpose(0, 3, 1, 2), dtype=np.float64)


def exact_row_col_sandwich(Xf: np.ndarray, L: np.ndarray, R: np.ndarray) -> np.ndarray:
    """L @ G @ R.T over the trailing (h, w) axes of contiguous float64
    ``Xf`` via two contiguous-reshape GEMMs (fastest single-thread layout
    measured). Exact for integer-valued operands (see exact-kernel note)."""
    h, w = Xf.shape[-2], Xf.shape[-1]
    lead = Xf.shape[:-2]
    A = (Xf.reshape(-1, w) @ R.T).reshape(lead + (h, R.shape[0]))
    Y = np.ascontiguousarray(np.swapaxes(A, -1, -2)).reshape(-1, h)
    B = (Y @ L.T).reshape(lead + (R.shape[0], L.shape[0]))
    return np.ascontiguousarray(np.swapaxes(B, -1, -2))


def block_mean_numerators_cf(Xf: np.ndarray, dst: int = 32) -> np.ndarray:
    """Channel-first float64 (n, 3, h, w) -> exact block-mean numerators
    T = Kh @ chan @ Kw.T per channel, (n, 3, dst, dst) integer-valued
    float64 (thumb = rint(T / (h*w))).

    All products/partials stay below 2^53, so the two large GEMMs are
    exact and the result is independent of batch size / BLAS blocking
    (see the exact-kernel note above). The phash luma resize reuses these
    same numerators by linearity: Kh @ (lw . chans) @ Kw.T = sum_c lw_c T_c.
    """
    h, w = Xf.shape[-2], Xf.shape[-1]
    if 255.0 * h * w * 1000.0 >= 2.0**53:
        raise AssertionError("image too large for the exact kernel bound")
    return exact_row_col_sandwich(Xf, _rm_int(h, dst), _rm_int(w, dst))


def block_mean_numerators(stack: np.ndarray, dst: int = 32) -> np.ndarray:
    """(n, h, w, 3) uint8 -> exact block-mean numerators (see above)."""
    return block_mean_numerators_cf(to_chanfirst_f64(stack), dst)


_TILE_M_CACHE: dict[tuple[int, int], np.ndarray] = {}


def tile_sum_matrix(size: int, tile: int) -> np.ndarray:
    """(ceil(size/tile), size) 0/1 aggregation matrix: row j sums pixels
    y with y // tile == j. Tile sums then run as exact float64 GEMMs
    instead of reduceat (~5x faster single-thread, identical integers)."""
    key = (size, tile)
    if key not in _TILE_M_CACHE:
        g = -(-size // tile)
        P = np.zeros((g, size))
        P[np.arange(size) // tile, np.arange(size)] = 1.0
        _TILE_M_CACHE[key] = P
    return _TILE_M_CACHE[key]


def resize_rgb_exact(stack: np.ndarray, dst: int = 32) -> np.ndarray:
    """(n, h, w, 3) uint8 -> (n, 3, dst, dst) uint8 exact block-mean thumbs.

    thumb = rint(Kh @ img @ Kw.T / (h*w)) — the mathematically exact
    area-weighted mean, correctly rounded once. The fused decode computes
    its thumbs from the same numerators (``block_mean_numerators_cf``),
    so a per-image call reproduces its thumb bytes BY CONSTRUCTION, not by
    accident of matching BLAS call shapes.
    """
    n, h, w, _c = stack.shape
    t = block_mean_numerators(stack, dst)
    # true division (NOT reciprocal-multiply: that rounds differently at
    # the last ulp and could flip the half-even rint), fused in place
    np.divide(t, float(h * w), out=t)
    np.rint(t, out=t)
    np.clip(t, 0, 255, out=t)
    return t.astype(np.uint8)


# Fixed-point phash pipeline constants: integer luma (x1000) and the top
# 8 rows of the 32-point DCT-II at 7-bit fixed point (|entry| <= 32). The
# whole hash is then computed in exact integer arithmetic (see the exact-
# kernel comment above) — bit-reproducible at any batch size, so it can
# use large GEMMs without breaking the partitioning-determinism gate.
_LUMA_I = np.array([299.0, 587.0, 114.0])
_D32FX = np.rint(_D32[:8] * 128.0)


def phash_from_numerators(t: np.ndarray, h: int, w: int) -> np.ndarray:
    """Finish the phash from block-mean numerators T (n, 3, 32, 32).

    luma resize numerators by linearity: s = 299*T_R + 587*T_G + 114*T_B
    (exact integers, same values as resizing the x1000 integer luma).
    Then quantize to 1/256 luma steps, fixed-point DCT, median threshold.
    """
    s = t[:, 0] * _LUMA_I[0] + t[:, 1] * _LUMA_I[1] + t[:, 2] * _LUMA_I[2]
    # mean luma per 32x32 cell = s / (1000*h*w); quantize to 1/256 steps
    small_fx = np.rint(s * (256.0 / (1000.0 * h * w)))  # ints <= 65280
    coeff = _exact_sandwich(_D32FX, small_fx, _D32FX)  # (n, 8, 8) exact
    block = coeff.reshape(len(t), 64)[:, 1:]
    med = np.median(block, axis=1, keepdims=True)
    bits = block > med
    weights = (np.uint64(1) << np.arange(62, -1, -1, dtype=np.uint64))
    out = (bits.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)
    return out.view(np.int64)


def phash64_same_size(imgs: np.ndarray) -> np.ndarray:
    """Vectorized phash for a stack of same-size images (n, h, w, 3).

    grayscale (integer luma x1000) -> exact 32x32 block-mean resize,
    quantized to 1/256 luma steps -> fixed-point 2D DCT -> top-left 8x8
    (minus DC) median-thresholded. ``phash64`` delegates here, so
    single-image and batch values are bit-identical; exact integer
    arithmetic makes batch values independent of batch size too, and the
    fused decode pass reuses its thumb numerators for the same hash.
    """
    imgs = np.asarray(imgs)
    n, h, w = imgs.shape[:3]
    return phash_from_numerators(block_mean_numerators(imgs), h, w)


def phash64(img: np.ndarray) -> int:
    """64-bit perceptual hash: grayscale -> 32x32 area-weighted resize ->
    2D DCT -> top-left 8x8 (minus DC) median-thresholded."""
    return int(phash64_same_size(img[None, ...])[0])


def phash64_batch(imgs: list[np.ndarray]) -> np.ndarray:
    """Batch phash for mixed-size images: group by shape, vectorize per
    group (the hot path in ``mapInArrow`` decode stages)."""
    out = np.empty(len(imgs), dtype=np.int64)
    by_shape: dict[tuple, list[int]] = {}
    for k, im in enumerate(imgs):
        by_shape.setdefault(im.shape, []).append(k)
    for shape, idxs in by_shape.items():
        stack = np.stack([imgs[k] for k in idxs])
        out[np.array(idxs)] = phash64_same_size(stack)
    return out
