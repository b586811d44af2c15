"""Seeded input generators for the three benchmark workloads.

Everything here is plain numpy/zlib: the engine only ever receives the
arrays, DataFrames and files these functions produce.  The same seed gives
byte-identical inputs.  The domain is the square [0, 100)^2.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .reference import jaccard

DOMAIN = 100.0


# -- points and polygons --------------------------------------------------------

def mixed_points(rng: np.random.Generator, n: int, clusters: int = 20,
                 clustered_share: float = 0.3, sigma: float = 1.5) -> np.ndarray:
    """(n, 2) points: a uniform share plus Gaussian clusters (skewed cells)."""
    n_cl = int(n * clustered_share)
    uni = rng.uniform(0.0, DOMAIN, size=(n - n_cl, 2))
    centres = rng.uniform(10.0, DOMAIN - 10.0, size=(clusters, 2))
    which = rng.integers(0, clusters, size=n_cl)
    cl = centres[which] + rng.normal(0.0, sigma, size=(n_cl, 2))
    pts = np.concatenate([uni, np.clip(cl, 0.0, np.nextafter(DOMAIN, 0.0))])
    return pts[rng.permutation(n)]


def star_rings(rng: np.random.Generator, n: int, spikes: int = 12,
               r_outer=(1.5, 4.0), inner_share: float = 0.45) -> list[np.ndarray]:
    """Closed rings of ``2 * spikes`` vertices alternating outer/inner radius:
    concave, so no rectangle fast path applies."""
    out = []
    ang = np.arange(2 * spikes) * np.pi / spikes
    for _ in range(n):
        cx, cy = rng.uniform(5.0, DOMAIN - 5.0, size=2)
        ro = rng.uniform(*r_outer)
        rad = np.where(np.arange(2 * spikes) % 2 == 0, ro, ro * inner_share)
        rot = rng.uniform(0.0, np.pi)
        ring = np.column_stack([cx + rad * np.cos(ang + rot), cy + rad * np.sin(ang + rot)])
        out.append(np.vstack([ring, ring[:1]]))
    return out


def blob_rings(rng: np.random.Generator, n: int, vertices: int = 12,
               radius=(0.15, 0.5)) -> list[np.ndarray]:
    """Closed star-shaped (hence simple) rings with jittered radii."""
    out = []
    for _ in range(n):
        cx, cy = rng.uniform(1.0, DOMAIN - 1.0, size=2)
        r = rng.uniform(*radius)
        ang = np.sort(rng.uniform(0.0, 2 * np.pi, size=vertices))
        rad = r * rng.uniform(0.5, 1.0, size=vertices)
        ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
        out.append(np.vstack([ring, ring[:1]]))
    return out


def polygon_wkb(ring: np.ndarray) -> bytes:
    """Little-endian WKB of a one-ring polygon."""
    return struct.pack("<BIII", 1, 3, 1, len(ring)) + np.ascontiguousarray(
        ring, dtype="<f8").tobytes()


def rect_wkb(x0: float, y0: float, x1: float, y1: float) -> bytes:
    return polygon_wkb(np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]))


# -- images -----------------------------------------------------------------------

def image_pixels(rng: np.random.Generator, size: int) -> np.ndarray:
    """(size, size, 3) uint8: a colour gradient plus blocky noise, so both
    codecs see real structure and compress to a few KB."""
    yy, xx = np.mgrid[0:size, 0:size].astype(np.float64) / size
    base = rng.uniform(0, 255, size=3)
    slope = rng.uniform(-120, 120, size=(2, 3))
    img = base + xx[..., None] * slope[0] + yy[..., None] * slope[1]
    blocks = rng.normal(0, 25, size=(size // 4, size // 4, 3)).repeat(4, 0).repeat(4, 1)
    return np.clip(img + blocks, 0, 255).astype(np.uint8)


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))


def encode_png(pix: np.ndarray) -> bytes:
    """8-bit RGB PNG; rows cycle through the None, Sub and Up filters."""
    h, w, _ = pix.shape
    rows = pix.reshape(h, w * 3).astype(np.int16)
    out = bytearray()
    for r in range(h):
        ft = r % 3
        if ft == 0:
            line = rows[r]
        elif ft == 1:
            line = rows[r] - np.concatenate([np.zeros(3, np.int16), rows[r, :-3]])
        else:
            line = rows[r] - rows[r - 1]
        out.append(ft)
        out += (line % 256).astype(np.uint8).tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(out), 6)) + _png_chunk(b"IEND", b""))


# Baseline JPEG (ITU-T T.81, Annex K tables), YCbCr 4:4:4.
_ZZ = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63])
_Q_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99])
_Q_CHR = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99] + [99] * 32)
_DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
_DC_CHR = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0], list(range(12)))
_AC_LUM = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], bytes.fromhex(
    "01020300041105122131410613516107227114328191a1082342b1c11552d1f0"
    "2433627282090a161718191a25262728292a3435363738393a43444546474849"
    "4a535455565758595a636465666768696a737475767778797a83848586878889"
    "8a92939495969798999aa2a3a4a5a6a7a8a9aab2b3b4b5b6b7b8b9bac2c3c4c5"
    "c6c7c8c9cad2d3d4d5d6d7d8d9dae1e2e3e4e5e6e7e8e9eaf1f2f3f4f5f6f7f8f9fa"))
_AC_CHR = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], bytes.fromhex(
    "000102031104052131061241510761711322328108144291a1b1c109233352f0"
    "156272d10a162434e125f11718191a262728292a35363738393a434445464748"
    "494a535455565758595a636465666768696a737475767778797a828384858687"
    "88898a92939495969798999aa2a3a4a5a6a7a8a9aab2b3b4b5b6b7b8b9bac2c3"
    "c4c5c6c7c8c9cad2d3d4d5d6d7d8d9dae2e3e4e5e6e7e8e9eaf2f3f4f5f6f7f8f9fa"))
_C8 = np.array([[(np.sqrt(0.125) if k == 0 else 0.5) * np.cos((2 * n + 1) * k * np.pi / 16)
                 for n in range(8)] for k in range(8)])


def _huff_codes(table) -> dict[int, tuple[int, int]]:
    counts, values = table
    codes, code, idx = {}, 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            codes[values[idx]] = (code, length)
            code += 1
            idx += 1
        code <<= 1
    return codes


_CODES = [(_huff_codes(_DC_LUM), _huff_codes(_AC_LUM)),
          (_huff_codes(_DC_CHR), _huff_codes(_AC_CHR))]


def _category(v: int) -> tuple[int, int]:
    s = abs(v).bit_length()
    return s, (v if v >= 0 else v + (1 << s) - 1)


def encode_jpeg(pix: np.ndarray, quality: int = 85) -> bytes:
    """Baseline JPEG of an (h, w, 3) uint8 image whose sides are multiples of 8."""
    h, w, _ = pix.shape
    scale = 5000 / quality if quality < 50 else 200 - 2 * quality
    qt = [np.clip((q * scale + 50) // 100, 1, 255).astype(np.int64) for q in (_Q_LUM, _Q_CHR)]
    f = pix.astype(np.float64)
    ycc = np.stack([
        0.299 * f[..., 0] + 0.587 * f[..., 1] + 0.114 * f[..., 2],
        -0.168736 * f[..., 0] - 0.331264 * f[..., 1] + 0.5 * f[..., 2] + 128,
        0.5 * f[..., 0] - 0.418688 * f[..., 1] - 0.081312 * f[..., 2] + 128,
    ]) - 128.0
    # (comp, by, bx, 8, 8) blocks -> DCT -> quantized zig-zag coefficients
    blocks = ycc.reshape(3, h // 8, 8, w // 8, 8).transpose(0, 1, 3, 2, 4)
    coef = np.einsum("kn,cyxnm,lm->cyxkl", _C8, blocks, _C8).reshape(3, -1, 64)
    zz = [np.rint(coef[c][:, _ZZ] / qt[min(c, 1)][_ZZ]).astype(np.int64) for c in range(3)]
    acc, nbits, out = 0, 0, bytearray()

    def put(code: int, length: int) -> None:
        nonlocal acc, nbits
        acc = (acc << length) | code
        nbits += length
        while nbits >= 8:
            nbits -= 8
            byte = (acc >> nbits) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0)
        acc &= (1 << nbits) - 1

    pred = [0, 0, 0]
    for b in range(zz[0].shape[0]):
        for c in range(3):
            dc_codes, ac_codes = _CODES[min(c, 1)]
            blk = zz[c][b].tolist()
            s, bits = _category(blk[0] - pred[c])
            pred[c] = blk[0]
            put(*dc_codes[s])
            if s:
                put(bits, s)
            run = 0
            for v in blk[1:]:
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    put(*ac_codes[0xF0])
                    run -= 16
                s, bits = _category(v)
                put(*ac_codes[(run << 4) | s])
                put(bits, s)
                run = 0
            if run:
                put(*ac_codes[0x00])
    if nbits:
        put((1 << (8 - nbits)) - 1, 8 - nbits)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", 0xFF00 | marker, len(body) + 2) + body

    dqt = b"".join(bytes([i]) + bytes(qt[i][_ZZ].tolist()) for i in range(2))
    dht = b"".join(bytes([cls << 4 | i]) + bytes(t[0]) + bytes(t[1]) for cls, i, t in
                   ((0, 0, _DC_LUM), (1, 0, _AC_LUM), (0, 1, _DC_CHR), (1, 1, _AC_CHR)))
    sof = struct.pack(">BHHB", 8, h, w, 3) + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1])
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    return (b"\xff\xd8" + seg(0xDB, dqt) + seg(0xC0, sof) + seg(0xC4, dht)
            + seg(0xDA, sos) + bytes(out) + b"\xff\xd9")


def phash_for(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """int64 whose low/high 32 bits place the image at (lon, lat) under the
    documented image-table position encoding."""
    lo = (lon / DOMAIN * 2.0**32).astype(np.uint64)
    hi = (lat / DOMAIN * 2.0**32).astype(np.uint64)
    return ((hi << np.uint64(32)) | lo).view(np.int64)


def image_corpus(rng: np.random.Generator, n: int, size: int, captions: list[str]) -> dict:
    """Image-table columns plus the per-image reference values."""
    pts = mixed_points(rng, n)
    # encode the position, then read it back exactly as the engine will
    ph = phash_for(pts[:, 0], pts[:, 1])
    u = ph.view(np.uint64)
    lon = (u & np.uint64(0xFFFFFFFF)).astype(np.float64) / 2.0**32 * DOMAIN
    lat = (u >> np.uint64(32)).astype(np.float64) / 2.0**32 * DOMAIN
    fmts = np.where(rng.uniform(size=n) < 0.5, "png", "jpeg")
    blobs, lumas = [], []
    weights = np.array([0.299, 0.587, 0.114])
    for fmt in fmts:
        pix = image_pixels(rng, size)
        blobs.append(encode_png(pix) if fmt == "png" else encode_jpeg(pix))
        lumas.append(float((pix.astype(np.float64) @ weights).mean()))
    return {
        "image_id": [f"img{i:06d}" for i in range(n)], "bytes": blobs,
        "w": np.full(n, size, np.int32), "h": np.full(n, size, np.int32),
        "fmt": fmts.tolist(), "caption": list(captions[:n]), "phash": ph,
        "lon": lon, "lat": lat, "luma": np.array(lumas),
    }


def rect_zones(rng: np.random.Generator, n: int, side=(2.0, 9.0)) -> np.ndarray:
    """(n, 4) axis-aligned boxes (xmin, ymin, xmax, ymax); they may overlap."""
    wh = rng.uniform(*side, size=(n, 2))
    lo = rng.uniform(0.0, DOMAIN - wh)
    return np.column_stack([lo, lo + wh])


# -- documents -------------------------------------------------------------------

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def documents(rng: np.random.Generator, n: int, dup_share: float = 0.15,
              vocab: int = 8000, median_chars: float = 200.0,
              max_chars: int = 3400) -> tuple[list[str], list[tuple[int, int]]]:
    """``n`` documents over a Zipf vocabulary with log-normal lengths; the
    last ``dup_share`` of them are near-duplicates (a few word edits) of
    earlier ones.  Returns (texts, planted (original, copy) id pairs)."""
    lens = rng.integers(3, 10, size=vocab)
    words = ["".join(rng.choice(_LETTERS, size=k)) for k in lens]
    p = 1.0 / np.arange(1, vocab + 1) ** 1.1
    p /= p.sum()
    n_dup = int(n * dup_share)
    n_base = n - n_dup
    target = np.minimum(rng.lognormal(np.log(median_chars), 0.8, size=n_base), max_chars)
    texts = []
    for t in target:
        k = max(3, int(t / 6.5))
        toks = rng.choice(vocab, size=k, p=p)
        texts.append(" ".join(words[i] for i in toks)[: int(max(t, 20))])
    planted = []
    for j in range(n_dup):
        src = int(rng.integers(0, n_base))
        toks = texts[src].split(" ")
        # one edited word per ~60 words keeps the 5-shingle Jaccard near 0.9;
        # a copy whose edit dropped it under the bar stays an exact copy
        for _ in range(1 + len(toks) // 60):
            toks[int(rng.integers(0, len(toks)))] = words[int(rng.integers(0, vocab))]
        copy = " ".join(toks)
        texts.append(copy if jaccard(copy, texts[src]) >= 0.85 else texts[src])
        planted.append((src, n_base + j))
    return texts, planted
