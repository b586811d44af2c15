"""Audio modality: REAL WAV (RIFF PCM) codec + distributed decode/featurize.

The brief's multimodal contract: opaque ``binary`` column + typed metadata,
decode / feature-extract / window-sample as Arrow-batched operations where
the raw samples never cross the Arrow boundary per-row.

The WAV codec is real — RIFF/WAVE/fmt/data chunks, PCM 16-bit, mono or
multi-channel, any sample rate — written against the public RIFF spec (no
deps; the format is simple enough that gating it would be dishonest).
FLAC decodes natively through the real pure-numpy codec in
sources/flac.py (lossless — bit-exact vs the WAV twin, CRC+MD5 verified).
One native decoder per format: MP3/OGG have none and raise a loud
NotImplementedError.

Feature extraction (duration / RMS / peak / zero-crossing rate / windowed
energy) happens inside the SAME mapInPandas pass as decode, so samples are
materialized exactly once per executor batch — the identical pattern the
image pipeline uses (sources/images.py, flagship plan).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# -- WAV codec (RIFF PCM, public spec) ----------------------------------------


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """PCM16 WAV bytes from an (n,) or (n, channels) int16 array."""
    s = np.asarray(samples, dtype="<i2")
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    data = s.tobytes()  # interleaved frames (row-major = frame-major)
    byte_rate = sample_rate * ch * 2
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, byte_rate, ch * 2, 16)
    out = b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
    out += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"data" + struct.pack("<I", len(data)) + data
    return out


def decode_wav(buf: bytes) -> tuple[np.ndarray, int]:
    """(samples (n, channels) int16, sample_rate) from WAV bytes.

    Walks RIFF chunks properly (extra chunks like LIST/fact are skipped, as
    real-world encoders emit them)."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        if buf[:4] == b"fLaC":
            # real pure-numpy FLAC decoder (sources/flac.py): lossless, so
            # this path is bit-exact with the WAV twin; >16-bit streams are
            # rescaled to the int16 contract of this accessor
            from incubator_sedona_spark.sources.flac import decode_flac

            samples, sr, bps = decode_flac(buf)
            if bps > 16:
                samples = samples >> (bps - 16)
            return samples.astype(np.int16), sr
        raise NotImplementedError(
            f"not a RIFF/WAVE or FLAC stream (starts {bytes(buf[:4])!r}); "
            "MP3/OGG are not decoded"
        )
    pos, end = 12, len(buf)
    ch = sr = bits = None
    data = None
    while pos + 8 <= end:
        cid, size = buf[pos : pos + 4], struct.unpack_from("<I", buf, pos + 4)[0]
        body = buf[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_fmt, ch, sr, _, _, bits = struct.unpack_from("<HHIIHH", body, 0)
            if audio_fmt != 1 or bits != 16:
                raise NotImplementedError(
                    f"only PCM16 WAV decodes natively (fmt={audio_fmt}, bits={bits})"
                )
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if data is None or ch is None:
        raise ValueError("WAV stream missing fmt/data chunk")
    s = np.frombuffer(data, dtype="<i2")
    return s.reshape(-1, ch), sr


def gen_audio(clip_id: int, seconds: float = 1.0, sample_rate: int = 8000) -> bytes:
    """Deterministic synthetic clip: seeded sine + harmonics + noise."""
    rng = np.random.default_rng(clip_id * 1_000_003 + 17)
    n = int(seconds * sample_rate)
    t = np.arange(n) / sample_rate
    f0 = 110.0 * (1 + (clip_id % 24))
    wave = (
        0.6 * np.sin(2 * np.pi * f0 * t)
        + 0.25 * np.sin(2 * np.pi * 2 * f0 * t)
        + 0.1 * rng.standard_normal(n)
    )
    pcm = np.clip(wave * 12000, -32768, 32767).astype(np.int16)
    return encode_wav(pcm, sample_rate)


# -- feature kernels -----------------------------------------------------------


def audio_features(samples: np.ndarray, sr: int, n_windows: int = 8) -> dict:
    """Deterministic per-clip features: duration, RMS, peak, zero-crossing
    rate, and ``n_windows`` equal-slice energies (the pooling a training
    pipeline feeds a quality filter)."""
    x = samples.astype(np.float64).mean(axis=1)  # downmix
    n = len(x)
    rms = float(np.sqrt(np.mean(x**2))) if n else 0.0
    zc = float(np.count_nonzero(np.diff(np.signbit(x)))) / max(n - 1, 1)
    bounds = np.linspace(0, n, n_windows + 1).astype(int)
    wins = [
        float(np.sqrt(np.mean(x[a:b] ** 2))) if b > a else 0.0
        for a, b in zip(bounds[:-1], bounds[1:])
    ]
    return {
        "duration_s": n / sr if sr else 0.0,
        "rms": rms,
        "peak": float(np.max(np.abs(x))) if n else 0.0,
        "zcr": zc,
        "window_rms": wins,
    }


# -- Spark plumbing ------------------------------------------------------------

_FEAT_SCHEMA = (
    "sample_rate int, n_samples int, channels int, duration_s double, "
    "rms double, peak double, zcr double, window_rms array<double>"
)


def audio_features_df(
    df: DataFrame, bytes_col: str = "bytes", n_windows: int = 8
) -> DataFrame:
    """Decode + featurize in ONE mapInPandas pass (samples never re-cross
    Arrow).  Output: input columns + sample_rate/n_samples/channels +
    duration/rms/peak/zcr/window_rms."""
    from pyspark.sql.types import StructType

    in_schema = df.schema
    out_schema = StructType.fromDDL(
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in in_schema)
        + ", " + _FEAT_SCHEMA
    )

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for b in pdf[bytes_col]:
                s, sr = decode_wav(bytes(b))
                f = audio_features(s, sr, n_windows)
                feats.append(
                    (sr, s.shape[0], s.shape[1], f["duration_s"], f["rms"],
                     f["peak"], f["zcr"], f["window_rms"])
                )
            fcols = pd.DataFrame(
                feats,
                columns=["sample_rate", "n_samples", "channels", "duration_s",
                         "rms", "peak", "zcr", "window_rms"],
                index=pdf.index,
            )
            yield pd.concat([pdf, fcols], axis=1)

    return df.mapInPandas(_run, schema=out_schema)


def audio_windows_df(
    df: DataFrame,
    window_s: float,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Fixed-length window sampler: one output row per (clip, window) with
    the window re-encoded as standalone WAV bytes — the training-data
    chunking op.  Runs in one mapInPandas pass; the final partial window is
    kept (matching torchaudio-style chunkers)."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, t0s, wavs = [], [], [], []
            for cid, b in zip(pdf[id_col], pdf[bytes_col]):
                s, sr = decode_wav(bytes(b))
                step = max(int(window_s * sr), 1)
                for w, a in enumerate(range(0, s.shape[0], step)):
                    ids.append(cid)
                    idxs.append(w)
                    t0s.append(a / sr)
                    wavs.append(encode_wav(s[a : a + step], sr))
            yield pd.DataFrame(
                {id_col: ids, "window_idx": idxs, "t0_s": t0s, "wav": wavs}
            )

    return df.mapInPandas(
        _run, schema=f"{id_col} long, window_idx int, t0_s double, wav binary"
    )
