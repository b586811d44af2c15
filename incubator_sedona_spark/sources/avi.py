"""AVI / Motion-JPEG container codec — pure numpy/stdlib, no dependencies.

Closes part of the round-4 "H.264 loud-gated" video gap with a REAL,
widely-used format: MJPEG-in-AVI (every webcam/capture pipeline's exchange
format).  Each frame is an independent baseline/progressive JPEG, so the
engine's own JVM-cross-checked JPEG decoder (sources/jpeg.py) does the
pixel work and this module only has to speak RIFF:

  * reader: generic RIFF chunk walk; ``avih`` (geometry, frame count),
    ``strh``/``strf`` of the first 'vids' stream (fps = dwRate/dwScale,
    biCompression must be MJPG/mjpg/raw-JPEG variants), the ``movi`` LIST's
    ``##dc``/``##db`` chunks, and the optional ``idx1`` index — both offset
    conventions in the wild (relative to the 'movi' fourcc, or absolute
    from file start) are detected and handled.
  * random access: with ``frame_indices``, ONLY the requested frames'
    JPEG payloads are decoded (idx1 when present, else one cheap linear
    chunk scan) — the O(sampled) property frame_sample_df relies on.
  * writer: takes ALREADY-ENCODED JPEG frames (what MJPEG hardware
    produces; the container does not transcode) and emits a standard
    AVI with idx1, playable by ffmpeg/VLC/ImageIO.

H.264/VP9 remain loudly gated in sources/video.py (an inter-frame
motion-compensated decoder is out of scope for a no-deps container);
MJPEG is the honest native step between RAWV and those.
"""

from __future__ import annotations

import struct

import numpy as np

_VIDEO_CHUNK_SUFFIXES = (b"dc", b"db")


def _walk_chunks(buf: bytes, pos: int, end: int):
    """Yield (fourcc, data_start, data_size, list_type|None) at one level."""
    while pos + 8 <= end:
        fourcc = buf[pos : pos + 4]
        size = struct.unpack_from("<I", buf, pos + 4)[0]
        if fourcc in (b"RIFF", b"LIST"):
            yield fourcc, pos + 12, size - 4, buf[pos + 8 : pos + 12]
        else:
            yield fourcc, pos + 8, size, None
        pos += 8 + size + (size & 1)  # chunks are word-aligned


def _find_list(buf: bytes, pos: int, end: int, list_type: bytes):
    for fourcc, start, size, lt in _walk_chunks(buf, pos, end):
        if fourcc == b"LIST" and lt == list_type:
            return start, start + size
    raise ValueError(f"corrupt AVI: no LIST '{list_type.decode()}'")


def parse_avi(buf: bytes) -> dict:
    """Header + frame directory: {width, height, fps, n_frames, codec,
    frames: [(offset, size), ...]} for the first video stream."""
    buf = bytes(buf)
    if buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        raise ValueError(f"not an AVI: {buf[:4]!r}/{buf[8:12]!r}")
    riff_end = min(len(buf), 8 + struct.unpack_from("<I", buf, 4)[0])
    hdrl_s, hdrl_e = _find_list(buf, 12, riff_end, b"hdrl")
    width = height = total = 0
    fps = 0.0
    codec = b""
    stream_no = -1
    n_streams = 0
    for fourcc, start, size, lt in _walk_chunks(buf, hdrl_s, hdrl_e):
        if fourcc == b"avih":
            (usec, _mbps, _pad, _flags, total, _init, _nstreams, _sbuf,
             width, height) = struct.unpack_from("<10I", buf, start)
            if fps == 0.0 and usec:
                fps = 1e6 / usec
        elif fourcc == b"LIST" and lt == b"strl":
            fcc_type = fcc_handler = b""
            scale = rate = 0
            compression = b""
            for f2, s2, z2, _ in _walk_chunks(buf, start, start + size):
                if f2 == b"strh":
                    fcc_type = buf[s2 : s2 + 4]
                    fcc_handler = buf[s2 + 4 : s2 + 8]
                    scale, rate = struct.unpack_from("<II", buf, s2 + 20)
                elif f2 == b"strf" and fcc_type == b"vids":
                    compression = buf[s2 + 16 : s2 + 20]
            if fcc_type == b"vids" and stream_no < 0:
                stream_no = n_streams
                codec = compression or fcc_handler
                if scale:
                    fps = rate / scale
            n_streams += 1
    if stream_no < 0:
        raise ValueError("corrupt AVI: no video ('vids') stream")
    movi_s, movi_e = _find_list(buf, 12, riff_end, b"movi")
    prefix = b"%02d" % stream_no

    frames: list[tuple[int, int]] = []
    # idx1 (after movi, same level as the LISTs)
    idx1 = None
    for fourcc, start, size, _ in _walk_chunks(buf, 12, riff_end):
        if fourcc == b"idx1":
            idx1 = (start, size)
    if idx1 is not None:
        start, size = idx1
        base = movi_s - 4  # offsets conventionally relative to 'movi' fourcc
        for off in range(start, start + size, 16):
            ckid = buf[off : off + 4]
            if ckid[:2] != prefix or ckid[2:4] not in _VIDEO_CHUNK_SUFFIXES:
                continue
            rel_off, ck_size = struct.unpack_from("<II", buf, off + 8)
            p = base + rel_off
            if buf[p : p + 4] != ckid:  # absolute-offset convention
                p = rel_off
                if buf[p : p + 4] != ckid:
                    raise ValueError("corrupt AVI: idx1 offset matches neither convention")
            frames.append((p + 8, ck_size))
    if not frames:
        # no idx1, or an idx1 that indexes only other streams (seen from
        # some muxers): the movi LIST itself is the ground truth
        for fourcc, start, size, _ in _walk_chunks(buf, movi_s, movi_e):
            if fourcc[:2] == prefix and fourcc[2:4] in _VIDEO_CHUNK_SUFFIXES:
                frames.append((start, size))
    if total and len(frames) != total:
        # tolerated in the wild; keep the directory as ground truth
        total = len(frames)
    return {
        "width": int(width), "height": int(height),
        "fps": float(fps), "n_frames": len(frames),
        "codec": codec.decode("ascii", "replace"), "frames": frames,
    }


_MJPEG_CODECS = {"MJPG", "mjpg", "dmb1", "jpeg", "JPEG"}


def _std_dht_segment() -> bytes:
    """ITU-T T.81 Annex K.3 'typical' Huffman tables as one DHT segment.

    The hardware-MJPEG convention (OpenDML 'AVI1') omits DHT from every
    frame and requires decoders to supply exactly these four tables; the
    test cross-checks them by stripping the DHT from a JVM-ImageIO JPEG
    (which writes the same Annex K tables) and asserting bit-identical
    decode after the splice."""
    dc_lum = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
    dc_chr = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0], list(range(12)))
    ac_lum_vals = [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
        0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
        0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
        0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
        0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ]
    ac_lum = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], ac_lum_vals)
    ac_chr_vals = [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
        0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
        0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
        0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
        0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
        0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ]
    ac_chr = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], ac_chr_vals)
    body = bytearray()
    for tc_th, (counts, vals) in (
        (0x00, dc_lum), (0x10, ac_lum), (0x01, dc_chr), (0x11, ac_chr),
    ):
        assert sum(counts) == len(vals)
        body += bytes([tc_th]) + bytes(counts) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + bytes(body)


_STD_DHT = None  # built lazily once


def ensure_dht(jpeg: bytes) -> bytes:
    """Splice the Annex K tables before SOS when a frame carries no DHT
    (the AVI1/hardware-MJPEG convention); frames with their own tables
    pass through untouched."""
    global _STD_DHT
    i, n = 2, len(jpeg)
    sos_at = None
    while i + 4 <= n and jpeg[i] == 0xFF:
        marker = jpeg[i + 1]
        if marker == 0xC4:
            return jpeg  # has its own tables
        if marker == 0xDA:
            sos_at = i
            break
        if 0xD0 <= marker <= 0xD9:  # standalone markers
            i += 2
            continue
        i += 2 + struct.unpack_from(">H", jpeg, i + 2)[0]
    if sos_at is None:
        return jpeg
    if _STD_DHT is None:
        _STD_DHT = _std_dht_segment()
    return jpeg[:sos_at] + _STD_DHT + jpeg[sos_at:]


def decode_avi(buf: bytes, frame_indices: list[int] | None = None) -> np.ndarray:
    """(k, h, w, 3) uint8.  Only the requested frames' JPEG payloads are
    parsed — un-sampled frames are never touched."""
    from incubator_sedona_spark.sources.images import decode_image

    buf = bytes(buf)
    meta = parse_avi(buf)
    if meta["codec"] not in _MJPEG_CODECS:
        raise NotImplementedError(
            f"AVI codec {meta['codec']!r}: only Motion-JPEG decodes natively "
            "(H.264/VP9 are not decoded)"
        )
    want = list(range(meta["n_frames"])) if frame_indices is None else list(frame_indices)
    out = np.empty((len(want), meta["height"], meta["width"], 3), dtype=np.uint8)
    for k, i in enumerate(want):
        off, size = meta["frames"][i]
        pix = decode_image(ensure_dht(buf[off : off + size]))
        if pix.shape[:2] != (meta["height"], meta["width"]):
            raise ValueError(
                f"corrupt AVI: frame {i} is {pix.shape[1]}x{pix.shape[0]}, "
                f"header says {meta['width']}x{meta['height']}"
            )
        out[k] = pix
    return out


def encode_avi_mjpeg(
    jpeg_frames: list[bytes], width: int, height: int, fps: float = 25.0,
    write_index: bool = True, absolute_index_offsets: bool = False,
) -> bytes:
    """Wrap already-encoded JPEG frames in a standard AVI container.
    ``absolute_index_offsets`` exercises the wild alternate idx1 convention
    (offsets from file start instead of from the 'movi' fourcc)."""
    n = len(jpeg_frames)
    if n == 0:
        raise ValueError("no frames")
    scale, rate = 1000, int(round(fps * 1000))
    avih = struct.pack(
        "<14I", int(round(1e6 / fps)), 0, 0, 0x10, n, 0, 1, 0,
        width, height, 0, 0, 0, 0,
    )
    strh = (b"vids" + b"MJPG" + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, scale, rate,
                                            0, n, 0, 10000, 0)
            + struct.pack("<4H", 0, 0, width, height))
    strf = struct.pack("<IiiHH4sIiiII", 40, width, height, 1, 24, b"MJPG",
                       width * height * 3, 0, 0, 0, 0)

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        return fourcc + struct.pack("<I", len(data)) + data + (b"\x00" if len(data) & 1 else b"")

    def lst(list_type: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", list_type + data)

    strl = lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + strl)

    movi_parts = []
    rel_offsets = []
    pos = 4  # after the 'movi' fourcc
    for jb in jpeg_frames:
        rel_offsets.append(pos)
        ck = chunk(b"00dc", jb)
        movi_parts.append(ck)
        pos += len(ck)
    movi = lst(b"movi", b"".join(movi_parts))

    body = hdrl + movi
    if write_index:
        movi_fourcc_abs = 12 + len(hdrl) + 8  # RIFF hdr + hdrl + LIST hdr
        entries = []
        for jb, rel in zip(jpeg_frames, rel_offsets):
            off = (movi_fourcc_abs + rel) if absolute_index_offsets else rel
            entries.append(b"00dc" + struct.pack("<III", 0x10, off, len(jb)))
        body += chunk(b"idx1", b"".join(entries))
    return b"RIFF" + struct.pack("<I", len(body) + 4) + b"AVI " + body
