"""Video modality: frame-sampling plumbing with a deterministic container.

There is no H.264/VP9 decoder: the decode step for such containers is a
clearly-marked NotImplementedError while the Spark-side plumbing — schema,
partitioning, UDF signatures, batch shape — is real and tested.

To make the plumbing testable end-to-end without external deps, the module
defines RAWV, a deterministic toy container (magic + width/height/fps/
frame count + zlib-compressed RGB frames).  ``decode_video`` dispatches on
the signature, one native decoder per format: RAWV, AVI/Motion-JPEG
(sources/avi.py) and animated GIF (sources/gif.py); anything else raises
loudly.  Adding a real codec changes ONE function — every Spark operator
downstream is already real.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

_RAWV_MAGIC = b"RAWV"


def encode_rawv(frames: np.ndarray, fps: float) -> bytes:
    """(n, h, w, 3) uint8 -> RAWV bytes (per-frame zlib, seekable index)."""
    f = np.ascontiguousarray(frames, dtype=np.uint8)
    n, h, w, c = f.shape
    assert c == 3
    blobs = [zlib.compress(f[i].tobytes(), 1) for i in range(n)]
    head = _RAWV_MAGIC + struct.pack("<HHfI", w, h, fps, n)
    index = struct.pack("<" + "I" * n, *[len(b) for b in blobs])
    return head + index + b"".join(blobs)


def probe_rawv(buf: bytes) -> dict:
    if bytes(buf[:4]) != _RAWV_MAGIC:
        raise ValueError("not a RAWV stream")
    w, h, fps, n = struct.unpack_from("<HHfI", buf, 4)
    return {"width": w, "height": h, "fps": float(fps), "n_frames": n}


def probe_video(buf: bytes) -> dict:
    """{width, height, fps, n_frames} for any natively-supported container
    (RAWV, AVI/MJPEG, or animated GIF)."""
    buf = bytes(buf)
    if buf[:4] == _RAWV_MAGIC:
        return probe_rawv(buf)
    if buf[:4] == b"RIFF" and buf[8:12] == b"AVI ":
        from incubator_sedona_spark.sources.avi import parse_avi

        m = parse_avi(buf)
        return {k: m[k] for k in ("width", "height", "fps", "n_frames")}
    if buf[:6] in (b"GIF87a", b"GIF89a"):
        from incubator_sedona_spark.sources.gif import decode_gif_frames

        frames = decode_gif_frames(buf)
        total_cs = sum(d for d, _ in frames)
        h, w, _ = frames[0][1].shape
        # mean frame rate; GIFs without timing default to the 10 fps most
        # players assume
        fps = (len(frames) * 100.0 / total_cs) if total_cs > 0 else 10.0
        return {"width": w, "height": h, "fps": fps, "n_frames": len(frames)}
    raise ValueError(f"unrecognized video container {buf[:4]!r}")


def decode_video(buf: bytes, frame_indices: list[int] | None = None) -> np.ndarray:
    """(k, h, w, 3) uint8 frames.  RAWV and AVI/Motion-JPEG decode natively
    (random access via the container index — only requested frames are
    ever decompressed), and so do animated GIFs; other containers raise."""
    buf = bytes(buf)
    if buf[:4] == b"RIFF" and buf[8:12] == b"AVI ":
        from incubator_sedona_spark.sources.avi import decode_avi

        return decode_avi(buf, frame_indices)
    if buf[:6] in (b"GIF87a", b"GIF89a"):
        # animated GIF: frames are delta-composited over the canvas, so
        # "random access" inherently replays preceding frames — cost is
        # O(max requested index + 1) via the max_frames early stop, the
        # format's own limit, unlike the true O(sampled) RAWV/AVI paths
        from incubator_sedona_spark.sources.gif import decode_gif_frames

        mx = None if frame_indices is None else max(frame_indices) + 1
        frames = decode_gif_frames(buf, max_frames=mx)
        want = list(range(len(frames))) if frame_indices is None else frame_indices
        return np.stack([frames[i][1] for i in want])
    if buf[:4] == _RAWV_MAGIC:
        w, h, fps, n = struct.unpack_from("<HHfI", buf, 4)
        sizes = struct.unpack_from("<" + "I" * n, buf, 16)
        offs = np.concatenate([[0], np.cumsum(sizes)]).astype(int) + 16 + 4 * n
        want = list(range(n)) if frame_indices is None else frame_indices
        out = np.empty((len(want), h, w, 3), dtype=np.uint8)
        for k, i in enumerate(want):
            raw = zlib.decompress(buf[offs[i] : offs[i + 1]])
            out[k] = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)
        return out
    raise NotImplementedError(
        f"unsupported video container {buf[:4]!r}; "
        "RAWV, AVI/Motion-JPEG and GIF decode natively"
    )


def gen_video(video_id: int, n_frames: int = 12, w: int = 32, h: int = 24,
              fps: float = 6.0) -> bytes:
    """Deterministic synthetic clip: a seeded gradient that pans per frame."""
    rng = np.random.default_rng(video_id * 7_919 + 3)
    base = rng.integers(0, 255, size=(h, w, 3), dtype=np.uint8)
    frames = np.stack(
        [np.roll(base, shift=i * 2, axis=1) for i in range(n_frames)]
    )
    return encode_rawv(frames, fps)


def frame_sample_df(
    df: DataFrame,
    every_k: int = 4,
    id_col: str = "video_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Every-k-th-frame sampler: one row per sampled frame with timestamp,
    per-channel means and the frame re-encoded as PNG bytes (ready for the
    image pipeline).  One mapInPandas pass; only sampled frames are ever
    decompressed (RAWV random access), so the cost is O(sampled), not
    O(total) — the property a real keyframe-seeking decoder would give."""
    from incubator_sedona_spark.sources.images import encode_png

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fidx, ts, r, g, b, png = [], [], [], [], [], [], []
            for vid, buf in zip(pdf[id_col], pdf[bytes_col]):
                meta = probe_video(bytes(buf))
                want = list(range(0, meta["n_frames"], every_k))
                frames = decode_video(buf, want)
                for k, i in enumerate(want):
                    ids.append(vid)
                    fidx.append(i)
                    ts.append(i / meta["fps"])
                    m = frames[k].reshape(-1, 3).mean(axis=0)
                    r.append(float(m[0])), g.append(float(m[1])), b.append(float(m[2]))
                    png.append(encode_png(frames[k]))
            yield pd.DataFrame(
                {id_col: ids, "frame_idx": fidx, "t_s": ts,
                 "mean_r": r, "mean_g": g, "mean_b": b, "png": png}
            )

    return df.mapInPandas(
        _run,
        schema=(
            f"{id_col} long, frame_idx int, t_s double, "
            "mean_r double, mean_g double, mean_b double, png binary"
        ),
    )


def scene_cuts_df(
    df: DataFrame,
    threshold: float = 30.0,
    step: int = 1,
    downsample: int = 1,
    id_col: str = "video_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Scene-change (hard-cut) detection: one row per video with the cut
    frame indices and the inter-frame difference profile.

    The standard content-aware rule: a cut at frame i when the mean
    absolute pixel difference between consecutive COMPARED frames exceeds
    ``threshold`` (0..255 scale).  ``step`` compares every k-th frame
    (cost O(n/step) decodes via container random access); ``downsample``
    subsamples pixels spatially (every d-th row/col) before differencing —
    at 100 TB the typical config is step=2..5, downsample=4, which cuts
    decode+diff cost ~step*d^2 x while hard cuts (tens of units of mean
    diff) stay far above threshold.

    Output: input non-bytes columns + (n_frames int, n_compared int,
    cut_indices array<int>, max_diff double, mean_diff double).  Videos
    with fewer than 2 compared frames yield empty cuts and NULL diffs.
    One mapInPandas pass; frames never cross the Arrow boundary.
    """
    if step < 1 or downsample < 1:
        raise ValueError("step and downsample must be >= 1")
    keep = [f for f in df.schema.fields if f.name != bytes_col]
    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in keep]
        + ["n_frames int", "n_compared int", "cut_indices array<int>",
           "max_diff double", "mean_diff double"]
    )

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            nf, nc, cuts, mx, mu = [], [], [], [], []
            for buf in pdf[bytes_col]:
                buf = bytes(buf)
                meta = probe_video(buf)
                want = list(range(0, meta["n_frames"], step))
                frames = decode_video(buf, want)
                f = frames[:, ::downsample, ::downsample, :].astype(np.int16)
                nf.append(meta["n_frames"])
                nc.append(len(want))
                if len(want) < 2:
                    cuts.append([]), mx.append(None), mu.append(None)
                    continue
                diffs = np.abs(np.diff(f, axis=0)).reshape(len(want) - 1, -1) \
                    .mean(axis=1)
                cut_at = [int(want[i + 1]) for i in np.nonzero(diffs > threshold)[0]]
                cuts.append(cut_at)
                mx.append(float(diffs.max()))
                mu.append(float(diffs.mean()))
            out = pdf.drop(columns=[bytes_col])
            out["n_frames"], out["n_compared"] = nf, nc
            out["cut_indices"], out["max_diff"], out["mean_diff"] = cuts, mx, mu
            yield out

    return df.mapInPandas(_run, schema=schema)
