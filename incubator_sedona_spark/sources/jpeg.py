"""Pure-Python/numpy baseline JPEG (JFIF) decoder — no libjpeg/PIL needed.

Implements the ITU-T T.81 baseline sequential DCT process from the public
spec: marker parse (DQT/DHT/SOF0/SOS/DRI), canonical Huffman entropy decode
with byte destuffing and restart markers, dequantization, zig-zag
reordering, exact float IDCT (orthonormal DCT-III as an 8x8 matrix product,
vectorized over every block of a component at once), chroma upsampling
(triangular filter for 2x factors — the libjpeg "fancy upsample" — nearest
otherwise), and JFIF full-range YCbCr -> RGB.

Coverage: baseline (SOF0/1) with 8-bit precision, 1 or 3 components, any
sampling factors, interleaved single-scan streams, restart intervals; and
progressive (SOF2) per T.81 Annex G — spectral selection + successive
approximation, interleaved/non-interleaved DC scans, DC/AC refinement
scans, EOB runs, restart intervals, inter-scan table redefinition.
Arithmetic coding, 12-bit precision, hierarchical, CMYK/YCCK, and
multi-scan *sequential* streams raise NotImplementedError LOUDLY.  This is
the one JPEG decoder (sources/images.decode_image dispatches here).

This is the decode stage the reference reaches through Java ImageIO
(sql/common/.../io/raster/GeotiffSchema.scala:121-200); tests cross-check
this decoder against the JVM's javax.imageio on the same bytes (PSNR
>= 40 dB), the same strategy the PNG/TIFF codecs used.
"""

from __future__ import annotations

import struct

import numpy as np

# zig-zag order: index i of the scan order -> (row, col) in the 8x8 block
_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# orthonormal 8x8 DCT-II matrix: C[k, n] = c(k) * cos((2n+1) k pi / 16)
_C = np.zeros((8, 8))
for _k in range(8):
    _c = np.sqrt(0.125) if _k == 0 else 0.5
    for _n in range(8):
        _C[_k, _n] = _c * np.cos((2 * _n + 1) * _k * np.pi / 16.0)


class _HuffTable:
    """Canonical Huffman table from a DHT segment's (bits, values)."""

    def __init__(self, counts: list[int], values: bytes):
        self.lookup: dict[tuple[int, int], int] = {}
        code = 0
        idx = 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                self.lookup[(length, code)] = values[idx]
                code += 1
                idx += 1
            code <<= 1


class _BitReader:
    """MSB-first bit reader over destuffed entropy-coded data."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bit = 0

    def read_bit(self) -> int:
        if self.pos >= len(self.data):
            # past the end: T.81 says pad with 1-bits (F.2.2.5)
            return 1
        b = (self.data[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return b

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_huff(self, table: _HuffTable) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.lookup.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in entropy stream")


def _extend(v: int, t: int) -> int:
    """T.81 EXTEND: map the t-bit magnitude v to its signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _destuff(data: bytes) -> tuple[bytes, list[int], int]:
    """Remove 0xFF00 byte stuffing; record restart-marker split offsets.

    Returns (clean bytes, segment start offsets into clean bytes, consumed
    input bytes): the entropy data between consecutive RSTn markers becomes
    one segment; ``consumed`` points at the next real marker's 0xFF (or end
    of input), so a multi-scan parser can resume there.
    """
    out = bytearray()
    seg_starts = [0]
    i = 0
    n = len(data)
    while i < n:
        b = data[i]
        if b == 0xFF:
            nxt = data[i + 1] if i + 1 < n else 0
            if nxt == 0x00:
                out.append(0xFF)
                i += 2
                continue
            if nxt == 0xFF:  # fill byte (T.81 B.1.1.2): skip, re-examine
                i += 1
                continue
            if 0xD0 <= nxt <= 0xD7:  # RSTn
                seg_starts.append(len(out))
                i += 2
                continue
            break  # next real marker: end of scan data
        out.append(b)
        i += 1
    return bytes(out), seg_starts, i


def _upsample(plane: np.ndarray, hs: int, vs: int, w: int, h: int) -> np.ndarray:
    """Upsample a subsampled component plane to (h, w).

    For the ubiquitous 2x factors uses the triangular (1/4, 3/4) filter —
    libjpeg's "fancy upsampling", which decoders like ImageIO mirror; other
    factors fall back to nearest (sample replication)."""
    if hs == 1 and vs == 1:
        return plane[:h, :w]

    def _tri_axis(p: np.ndarray, axis: int) -> np.ndarray:
        # output 2n samples: out[2i] = (3*p[i] + p[i-1]) / 4, out[2i+1] =
        # (3*p[i] + p[i+1]) / 4, edges replicate
        p = np.moveaxis(p, axis, 0).astype(np.float64)
        prev = np.concatenate([p[:1], p[:-1]], axis=0)
        nxt = np.concatenate([p[1:], p[-1:]], axis=0)
        out = np.empty((2 * p.shape[0],) + p.shape[1:], dtype=np.float64)
        out[0::2] = (3.0 * p + prev) / 4.0
        out[1::2] = (3.0 * p + nxt) / 4.0
        return np.moveaxis(out, 0, axis)

    up = plane.astype(np.float64)
    fh, fv = hs, vs
    # triangular passes only for the 2x parts of the factor; odd residues
    # (3:1 etc.) fall to nearest replication — applying the 2x filter to an
    # odd factor would emit a wrong-sized plane
    while fv % 2 == 0:
        up = _tri_axis(up, 0)
        fv //= 2
    while fh % 2 == 0:
        up = _tri_axis(up, 1)
        fh //= 2
    if fv > 1 or fh > 1:
        up = np.repeat(np.repeat(up, fv, axis=0), fh, axis=1)
    return up[:h, :w]


def decode_jpeg(buf: bytes) -> np.ndarray:
    """Decode baseline-JFIF bytes to an (h, w, 3) uint8 RGB array."""
    buf = bytes(buf)
    if buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")

    qtables: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffTable] = {}
    huff_ac: dict[int, _HuffTable] = {}
    restart_interval = 0
    frame = None
    scans: list[dict] = []  # progressive scans accumulated across SOS markers
    adobe_transform = None  # APP14 "Adobe" color-transform byte, if present
    i = 2
    n = len(buf)
    while i < n:
        if buf[i] != 0xFF:
            i += 1
            continue
        marker = buf[i + 1]
        if marker == 0xFF:  # fill byte before a marker (T.81 B.1.1.2)
            i += 1
            continue
        i += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", buf[i : i + 2])
        seg = buf[i + 2 : i + seglen]
        if marker == 0xDB:  # DQT (possibly several tables)
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                if pq == 0:
                    tbl = np.frombuffer(seg, np.uint8, 64, p).astype(np.int32)
                    p += 64
                else:
                    tbl = np.frombuffer(seg, ">u2", 64, p).astype(np.int32)
                    p += 128
                qtables[tq] = tbl
        elif marker == 0xC4:  # DHT (possibly several tables)
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                counts = list(seg[p + 1 : p + 17])
                nvals = sum(counts)
                values = seg[p + 17 : p + 17 + nvals]
                (huff_dc if tc == 0 else huff_ac)[th] = _HuffTable(counts, values)
                p += 17 + nvals
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xEE:  # APP14: Adobe segment carries the color transform
            if seg[:5] == b"Adobe" and len(seg) >= 12:
                adobe_transform = seg[11]
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline/ext, SOF2 progressive
            prec, fh, fw, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise NotImplementedError(f"JPEG precision {prec} unsupported (baseline is 8)")
            if nc not in (1, 3):
                # 4-component streams are Adobe CMYK/YCCK; silently dropping K
                # and treating 0..2 as YCbCr gives wrong colors, so fail loud
                raise NotImplementedError(
                    f"JPEG with {nc} components (CMYK/YCCK) is not supported; "
                    "only 1- or 3-component streams decode"
                )
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            frame = {"w": fw, "h": fh, "comps": comps, "progressive": marker == 0xC2}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF marker 0xFF{marker:02X} (lossless/arithmetic/"
                "hierarchical) is not supported; only baseline (SOF0/1) "
                "and progressive (SOF2) decode"
            )
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            if adobe_transform == 0 and len(frame["comps"]) == 3:
                # Adobe transform=0 marks the 3 components as literal RGB;
                # running the YCbCr conversion on them corrupts every pixel
                raise NotImplementedError(
                    "JPEG APP14 transform=0 (RGB-encoded components) is not "
                    "supported; only YCbCr or gray streams decode"
                )
            ns = seg[0]
            scan = []
            for c in range(ns):
                cs, tdta = seg[1 + 2 * c : 3 + 2 * c]
                comp = next(x for x in frame["comps"] if x["id"] == cs)
                scan.append({**comp, "dc": tdta >> 4, "ac": tdta & 0x0F})
            if not frame["progressive"]:
                if ns != len(frame["comps"]):
                    raise NotImplementedError(
                        "multi-scan (non-interleaved) sequential JPEG "
                        "streams unsupported"
                    )
                data = buf[i + seglen :]
                return _decode_scan(
                    frame, scan, qtables, huff_dc, huff_ac, restart_interval, data
                )
            # progressive: collect the scan (with table snapshots — DHT/DRI
            # may be redefined between scans) and keep parsing
            ss, se, ahal = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            clean, seg_starts, consumed = _destuff(buf[i + seglen :])
            scans.append(
                {
                    "comps": scan,
                    "ss": ss,
                    "se": se,
                    "ah": ahal >> 4,
                    "al": ahal & 0x0F,
                    "clean": clean,
                    "seg_starts": seg_starts,
                    "ri": restart_interval,
                    "huff_dc": dict(huff_dc),
                    "huff_ac": dict(huff_ac),
                }
            )
            i += seglen + consumed
            continue
        i += seglen
    if frame is not None and frame["progressive"] and scans:
        return _decode_progressive(frame, scans, qtables)
    raise ValueError("JPEG stream ended without a scan")


def _decode_scan(frame, scan, qtables, huff_dc, huff_ac, restart_interval, data):
    w, h = frame["w"], frame["h"]
    hmax = max(c["h"] for c in scan)
    vmax = max(c["v"] for c in scan)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    clean, seg_starts, _ = _destuff(data)

    # per-component storage for dequantized coefficient blocks
    planes = []
    for c in scan:
        bw, bh = mcux * c["h"], mcuy * c["v"]
        planes.append(np.zeros((bh * bw, 64), dtype=np.float64))

    reader = _BitReader(clean)
    pred = [0] * len(scan)
    seg_idx = 0
    n_mcu = mcux * mcuy
    for m in range(n_mcu):
        if restart_interval and m and m % restart_interval == 0:
            seg_idx += 1
            if seg_idx >= len(seg_starts):
                raise ValueError("missing JPEG restart marker")
            reader = _BitReader(clean[seg_starts[seg_idx] :])
            pred = [0] * len(scan)
        my, mx = divmod(m, mcux)
        for ci, c in enumerate(scan):
            q = qtables[c["tq"]]
            dc_t, ac_t = huff_dc[c["dc"]], huff_ac[c["ac"]]
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    coef = np.zeros(64, dtype=np.float64)
                    t = reader.decode_huff(dc_t)
                    diff = _extend(reader.receive(t), t)
                    pred[ci] += diff
                    coef[0] = pred[ci] * q[0]
                    k = 1
                    while k < 64:
                        rs = reader.decode_huff(ac_t)
                        r, s = rs >> 4, rs & 0x0F
                        if s == 0:
                            if r == 15:  # ZRL: skip 16 zeros
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("AC run past end of block")
                        coef[k] = _extend(reader.receive(s), s) * q[k]
                        k += 1
                    row = my * c["v"] + by
                    col = mx * c["h"] + bx
                    planes[ci][row * (mcux * c["h"]) + col] = coef

    # vectorized IDCT per component: de-zigzag all blocks, C^T @ B @ C
    comps_px = []
    for ci, c in enumerate(scan):
        plane = _idct_assemble(planes[ci], mcux * c["h"], mcuy * c["v"])
        comps_px.append(_upsample(plane, hmax // c["h"], vmax // c["v"], w, h))
    return _to_rgb(comps_px)


def _idct_assemble(coefs_zz: np.ndarray, bw: int, bh: int) -> np.ndarray:
    """(n_blocks, 64) dequantized zig-zag coefficients -> (bh*8, bw*8) plane."""
    blocks = np.zeros((bh * bw, 64))
    blocks[:, _ZIGZAG] = coefs_zz
    blocks = blocks.reshape(-1, 8, 8)
    spatial = np.einsum("ij,njk,kl->nil", _C.T, blocks, _C) + 128.0
    return (
        spatial.reshape(bh, bw, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(bh * 8, bw * 8)
    )


def _to_rgb(comps_px: list[np.ndarray]) -> np.ndarray:
    if len(comps_px) == 1:
        g = np.clip(comps_px[0], 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    y, cb, cr = comps_px[0], comps_px[1] - 128.0, comps_px[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=2), 0, 255).astype(np.uint8)

# -- progressive (SOF2) decode: T.81 Annex G ----------------------------------
#
# Coefficients accumulate across scans at full precision (zig-zag order,
# int32): a first DC/AC scan (Ah=0) contributes the bits above Al via the
# point transform, refinement scans (Ah>0) contribute one bit per
# coefficient per scan.  Dequantization + IDCT run once at the end over the
# completed coefficient arrays, through the same vectorized path as the
# baseline decoder (G.1.2.2 first scans, G.1.2.3 refinement, EOB runs).


def _decode_progressive(frame, scans, qtables):
    w, h = frame["w"], frame["h"]
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    store: dict[int, np.ndarray] = {}
    for c in comps:
        store[c["id"]] = np.zeros((mcuy * c["v"] * mcux * c["h"], 64), dtype=np.int32)

    for sc in scans:
        if sc["ss"] == 0:
            _progressive_dc_scan(sc, store, frame, mcux, mcuy, hmax, vmax)
        else:
            _progressive_ac_scan(sc, store, frame, mcux, hmax, vmax)

    comps_px = []
    for c in comps:
        bw, bh = mcux * c["h"], mcuy * c["v"]
        dq = store[c["id"]].astype(np.float64) * qtables[c["tq"]].astype(np.float64)[None, :]
        plane = _idct_assemble(dq, bw, bh)
        comps_px.append(_upsample(plane, hmax // c["h"], vmax // c["v"], w, h))
    return _to_rgb(comps_px)


def _comp_block_grid(c, frame, mcux, hmax, vmax):
    """Non-interleaved block grid (bwn, bhn, stride) for one component.

    T.81 A.2.2: a non-interleaved scan covers ceil(cw/8) x ceil(ch/8)
    blocks of the component's true sample dimensions (no MCU padding); the
    backing coefficient array keeps the padded interleaved row stride."""
    cw = -(-frame["w"] * c["h"] // hmax)
    ch = -(-frame["h"] * c["v"] // vmax)
    return -(-cw // 8), -(-ch // 8), mcux * c["h"]


def _restart_units(sc, frame, mcux, mcuy, hmax, vmax):
    """Entropy-stream order as restart units (lists of (comp, block_idx)).

    Interleaved scans: one unit per MCU.  Non-interleaved scans: one unit
    per block, over the component's unpadded grid.  The restart interval
    counts units in both cases (T.81 B.2.3)."""
    units = []
    if len(sc["comps"]) > 1:
        for m in range(mcux * mcuy):
            my, mx = divmod(m, mcux)
            unit = []
            for c in sc["comps"]:
                stride = mcux * c["h"]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        unit.append((c, (my * c["v"] + by) * stride + (mx * c["h"] + bx)))
            units.append(unit)
    else:
        c = sc["comps"][0]
        bwn, bhn, stride = _comp_block_grid(c, frame, mcux, hmax, vmax)
        for by in range(bhn):
            for bx in range(bwn):
                units.append([(c, by * stride + bx)])
    return units


def _progressive_dc_scan(sc, store, frame, mcux, mcuy, hmax, vmax):
    if sc["se"] != 0:
        raise ValueError("progressive DC scan must have Se=0")
    al, ah, ri = sc["al"], sc["ah"], sc["ri"]
    reader = _BitReader(sc["clean"])
    seg_idx = 0
    pred = {c["id"]: 0 for c in sc["comps"]}
    for u, unit in enumerate(_restart_units(sc, frame, mcux, mcuy, hmax, vmax)):
        if ri and u and u % ri == 0:
            seg_idx += 1
            if seg_idx >= len(sc["seg_starts"]):
                raise ValueError("missing JPEG restart marker")
            reader = _BitReader(sc["clean"][sc["seg_starts"][seg_idx] :])
            pred = {c["id"]: 0 for c in sc["comps"]}
        for c, idx in unit:
            blk = store[c["id"]]
            if ah == 0:  # first DC scan: Huffman diff, shifted by Al
                t = reader.decode_huff(sc["huff_dc"][c["dc"]])
                pred[c["id"]] += _extend(reader.receive(t), t)
                blk[idx, 0] = pred[c["id"]] << al
            else:  # refinement: one bit appended at position Al
                if reader.read_bit():
                    blk[idx, 0] |= 1 << al


def _progressive_ac_scan(sc, store, frame, mcux, hmax, vmax):
    if len(sc["comps"]) != 1:
        raise ValueError("progressive AC scan must be single-component (T.81 B.2.3)")
    c = sc["comps"][0]
    ss, se, ah, al, ri = sc["ss"], sc["se"], sc["ah"], sc["al"], sc["ri"]
    ac_t = sc["huff_ac"][c["ac"]]
    blkstore = store[c["id"]]
    bwn, bhn, stride = _comp_block_grid(c, frame, mcux, hmax, vmax)
    reader = _BitReader(sc["clean"])
    seg_idx = 0
    eobrun = 0
    u = 0
    for by in range(bhn):
        for bx in range(bwn):
            if ri and u and u % ri == 0:
                seg_idx += 1
                if seg_idx >= len(sc["seg_starts"]):
                    raise ValueError("missing JPEG restart marker")
                reader = _BitReader(sc["clean"][sc["seg_starts"][seg_idx] :])
                eobrun = 0
            u += 1
            blk = blkstore[by * stride + bx]
            if ah == 0:
                eobrun = _ac_first_band(reader, ac_t, blk, ss, se, al, eobrun)
            else:
                eobrun = _ac_refine_band(reader, ac_t, blk, ss, se, al, eobrun)


def _ac_first_band(reader, ac_t, blk, ss, se, al, eobrun):
    """First AC scan for one block's band (G.1.2.2): RRRRSSSS run-length
    coding with EOBn end-of-band run codes; new values enter at << Al."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = reader.decode_huff(ac_t)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r < 15:  # EOBn: band ends here for this and the next 2^r-1+ext blocks
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.receive(r)
                break
            k += 16  # ZRL
        else:
            k += r
            if k > se:
                raise ValueError("AC run past end of band")
            blk[k] = _extend(reader.receive(s), s) << al
            k += 1
    return eobrun


def _ac_refine_band(reader, ac_t, blk, ss, se, al, eobrun):
    """AC refinement for one block's band (G.1.2.3): history-nonzero
    coefficients receive a correction bit; zero-history runs position the
    scan's new +-1 coefficients; EOB runs still append correction bits."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.decode_huff(ac_t)
            r, s = rs >> 4, rs & 0x0F
            newval = 0
            if s == 0:
                if r < 15:  # EOB run: includes the rest of THIS band (below)
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.receive(r)
                    break
                # ZRL: pass 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("AC refinement magnitude must be 1")
                newval = p1 if reader.read_bit() else m1
            # advance past r zero-history coefficients; every nonzero-history
            # coefficient passed on the way reads one correction bit
            while k <= se:
                cur = int(blk[k])
                if cur != 0:
                    if reader.read_bit() and (cur & p1) == 0:
                        blk[k] = cur + (p1 if cur >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                blk[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:  # correction bits for the remainder of this band
            cur = int(blk[k])
            if cur != 0:
                if reader.read_bit() and (cur & p1) == 0:
                    blk[k] = cur + (p1 if cur >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun
