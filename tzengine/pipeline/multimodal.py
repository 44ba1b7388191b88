"""Multimodal column processing: opaque binary payloads + typed metadata.

Images (raw/png/q6) are REAL here — decode, resize, feature-extract, and
re-encode run on actual pixels via the pure-numpy codecs in
tzengine.images. Audio is REAL for WAV/PCM payloads (stdlib ``wave`` +
numpy features); video is REAL for the documented rawvid raw-frame
container (parse + sample + re-encode actual pixels). Compressed
audio/video codecs don't exist in this environment, so foreign payloads
raise explicit NotImplementedError — nothing is silently faked.

Everything is mapInArrow over Arrow batches, each op's body one
pandas-free ``*_batch`` function: binary columns never pass through
per-row Python at the plan level, and batches stream (iterator in /
iterator out) so a 100 TB scan never materializes a partition in memory.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from .. import images
from ..arrowio import map_batches, rows_batch

_IMAGE_COLUMNS = ("image_id", "bytes", "w", "h", "fmt")

FEATURES_SCHEMA = pa.schema([
    ("image_id", pa.string()), ("w", pa.int32()), ("h", pa.int32()),
    ("fmt", pa.string()), ("mean_r", pa.float64()), ("mean_g", pa.float64()),
    ("mean_b", pa.float64()), ("std_gray", pa.float64()),
    ("phash_decoded", pa.int64()),
])


def _image_feature_row(img: np.ndarray) -> tuple:
    """Per-image feature math — ONE implementation shared by
    image_features and image_decode_table (the staged-oracle variant
    must never silently diverge from the operator it verifies).
    Returns (mean_r, mean_g, mean_b, gray_plane, std_gray, phash)."""
    means = img.reshape(-1, 3).mean(axis=0)
    gray = images.grayscale(img)
    return (
        float(means[0]), float(means[1]), float(means[2]),
        gray, float(gray.std()), images.phash64(img),
    )


def _decoded(batch):
    """Each (image_id, bytes, w, h, fmt) row of ``batch`` with its decoded
    pixels."""
    for r in batch.to_pylist():
        yield r, images.decode(r["bytes"], r["fmt"], r["w"], r["h"])


def _image_rows(batch, staged: bool) -> list[tuple]:
    """Each image row's features, then, when ``staged``, its decoded
    channel planes and grayscale plane."""
    rows = []
    for r, img in _decoded(batch):
        mr, mg, mb, gray, std, ph = _image_feature_row(img)
        row = (r["image_id"], r["w"], r["h"], r["fmt"], mr, mg, mb, std, ph)
        if staged:
            row += (*img.reshape(-1, 3).T.astype(np.int32), gray.reshape(-1))
        rows.append(row)
    return rows


def image_features_batch(batch):
    """The body of :func:`image_features`."""
    return rows_batch(_image_rows(batch, False), FEATURES_SCHEMA)


def image_features(df: DataFrame) -> DataFrame:
    """Decode → per-channel mean, gray std, phash of the decoded pixels."""
    return map_batches(
        df.select(*_IMAGE_COLUMNS), image_features_batch, FEATURES_SCHEMA
    )


DECODE_TABLE_SCHEMA = pa.schema(list(FEATURES_SCHEMA) + [
    ("r_px", pa.list_(pa.int32())), ("g_px", pa.list_(pa.int32())),
    ("b_px", pa.list_(pa.int32())), ("gray", pa.list_(pa.float64())),
])


def image_decode_batch(batch):
    """The body of :func:`image_decode_table`."""
    return rows_batch(_image_rows(batch, True), DECODE_TABLE_SCHEMA)


def image_decode_table(df: DataFrame) -> DataFrame:
    """image_features PLUS the decoded per-channel pixel lists and the
    grayscale plane — the stage-oracle form (round 4): the decode and
    the numpy feature math stay in this operator (pytest-pinned against
    real pixels), while the staged pixel columns let a SQL oracle
    RECOMPUTE the features from the same decoded values (channel means
    are integer-exact; gray std agrees to ~1e-13 rel, quantized by the
    caller)."""
    return map_batches(
        df.select(*_IMAGE_COLUMNS), image_decode_batch, DECODE_TABLE_SCHEMA
    )


RESIZE_SCHEMA = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
    ("h", pa.int32()), ("fmt", pa.string()),
])


def resize_batch(batch, out_w: int, out_h: int):
    """The body of :func:`resize_images`."""
    rows = []
    for r, img in _decoded(batch):
        yi = (np.arange(out_h) * img.shape[0] // out_h).clip(0, img.shape[0] - 1)
        xi = (np.arange(out_w) * img.shape[1] // out_w).clip(0, img.shape[1] - 1)
        resized = img[yi][:, xi]
        fmt = r["fmt"] if r["fmt"] != "q6" else "raw"  # q6 re-encode would re-lose
        rows.append(
            (r["image_id"], images.encode(resized, fmt), out_w, out_h, fmt)
        )
    return rows_batch(rows, RESIZE_SCHEMA)


def resize_images(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize of the decoded pixels, re-encoded in the
    row's own format. Real pixel math (numpy fancy indexing)."""
    return map_batches(
        df.select(*_IMAGE_COLUMNS), resize_batch, RESIZE_SCHEMA, out_w, out_h
    )


AUDIO_FEATURES_SCHEMA = pa.schema([
    ("clip_id", pa.string()), ("sample_rate", pa.int32()),
    ("n_samples", pa.int64()), ("duration_s", pa.float64()),
    ("rms", pa.float64()), ("zcr", pa.float64()),
    ("spectral_centroid_hz", pa.float64()),
])
FRAME_SAMPLE_SCHEMA = pa.schema([
    ("video_id", pa.string()), ("frame_no", pa.int32()), ("w", pa.int32()),
    ("h", pa.int32()), ("bytes", pa.binary()),
])

#: raw-frame video container (documented wire format, real parsing):
#: magic "RVID" + u16 w + u16 h + u16 n_frames, then n_frames raw RGB
#: frames of w*h*3 bytes each — the plumbing target when no standard
#: video codec library exists in the environment.
RAWVID_MAGIC = b"RVID"


def encode_rawvid(frames) -> bytes:
    """Frames: list of (h, w, 3) uint8 arrays, all same shape."""
    import struct

    h, w = frames[0].shape[:2]
    out = bytearray(RAWVID_MAGIC)
    out += struct.pack("<HHH", w, h, len(frames))
    for f in frames:
        out += np.ascontiguousarray(f, dtype=np.uint8).tobytes()
    return bytes(out)


def decode_rawvid(data: bytes):
    """-> (w, h, list of (h, w, 3) uint8 frames). Raises ValueError on a
    foreign container (no standard codecs in this environment)."""
    import struct

    if data[:4] != RAWVID_MAGIC:
        raise NotImplementedError(
            "video decode: only the rawvid container is supported — "
            "standard video codec libraries are not present in this "
            "environment"
        )
    w, h, n = struct.unpack_from("<HHH", data, 4)
    frames = []
    off = 10
    step = w * h * 3
    for _ in range(n):
        frames.append(
            np.frombuffer(data, dtype=np.uint8, count=step, offset=off)
            .reshape(h, w, 3)
            .copy()
        )
        off += step
    return w, h, frames


def _decode_wav(data: bytes) -> tuple:
    """WAV/PCM parse (stdlib ``wave`` + numpy) → (sample_rate, samples
    float64 in [-1, 1], channel-mixed). Non-WAV payloads raise
    NotImplementedError (compressed codecs absent from this environment
    — explicit, nothing silently faked). ONE implementation shared by
    audio_features and audio_decode_table."""
    import io as _io
    import wave

    if data[:4] != b"RIFF":
        raise NotImplementedError(
            "audio decode: only WAV/PCM is supported — compressed-audio "
            "codec libraries are not present in this environment"
        )
    with wave.open(_io.BytesIO(data)) as wf:
        sr = wf.getframerate()
        n = wf.getnframes()
        width = wf.getsampwidth()
        channels = wf.getnchannels()
        raw = wf.readframes(n)
    if width == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64)
        x /= 32768.0
    elif width == 1:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64)
             - 128.0) / 128.0
    else:
        raise NotImplementedError(f"unsupported PCM sample width: {width}")
    if channels > 1:
        x = x.reshape(-1, channels).mean(axis=1)
    return sr, x


def _audio_feature_row(x: np.ndarray, sr: int) -> tuple:
    """Per-clip feature math over decoded samples — shared by both audio
    ops. Returns (rms, zcr, centroid, spec, freqs)."""
    rms = float(np.sqrt(np.mean(x * x))) if len(x) else 0.0
    zcr = (
        float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1])))
        if len(x) > 1 else 0.0
    )
    if len(x):
        spec = np.abs(np.fft.rfft(x))
        freqs = np.fft.rfftfreq(len(x), d=1.0 / sr)
        denom = spec.sum()
        centroid = float((freqs * spec).sum() / denom) if denom else 0.0
    else:
        spec = np.zeros(0)
        freqs = np.zeros(0)
        centroid = 0.0
    return rms, zcr, centroid, spec, freqs


def _audio_rows(batch, staged: bool) -> list[tuple]:
    """Each (clip_id, bytes) row's audio features, then, when ``staged``,
    its samples, spectrum and frequency grid."""
    rows = []
    for r in batch.to_pylist():
        sr, x = _decode_wav(r["bytes"])
        rms, zcr, centroid, spec, freqs = _audio_feature_row(x, sr)
        rows.append(
            (r["clip_id"], sr, len(x), len(x) / sr, rms, zcr, centroid)
            + ((x, spec, freqs) if staged else ())
        )
    return rows


def audio_features_batch(batch):
    """The body of :func:`audio_features`."""
    return rows_batch(_audio_rows(batch, False), AUDIO_FEATURES_SCHEMA)


def audio_features(df: DataFrame) -> DataFrame:
    """REAL audio decode for WAV/PCM payloads: sample rate, duration,
    RMS, zero-crossing rate, spectral centroid (rfft). mapInArrow
    streams batches; a 100 TB scan never materializes a partition."""
    return map_batches(
        df.select("clip_id", "bytes"), audio_features_batch,
        AUDIO_FEATURES_SCHEMA,
    )


AUDIO_DECODE_TABLE_SCHEMA = pa.schema(list(AUDIO_FEATURES_SCHEMA) + [
    (name, pa.list_(pa.float64())) for name in ("samples", "spec", "freqs")
])


def audio_decode_batch(batch):
    """The body of :func:`audio_decode_table`."""
    return rows_batch(_audio_rows(batch, True), AUDIO_DECODE_TABLE_SCHEMA)


def audio_decode_table(df: DataFrame) -> DataFrame:
    """audio_features PLUS the decoded sample vector and the rfft
    magnitude spectrum/frequency grid — the stage-oracle form (round 4):
    the WAV parse and the FFT stay in this operator (pytest-pinned
    against tone-frequency goldens), while the staged columns let a SQL
    oracle RECOMPUTE duration (exact), RMS and ZCR from the samples, and
    the spectral centroid from the staged spectrum."""
    return map_batches(
        df.select("clip_id", "bytes"), audio_decode_batch,
        AUDIO_DECODE_TABLE_SCHEMA,
    )


def video_frames_batch(batch, every_n: int, out_fmt: str):
    """The body of :func:`sample_video_frames`."""
    rows = []
    for r in batch.to_pylist():
        w, h, frames = decode_rawvid(r["bytes"])
        rows += [
            (r["video_id"], fi, w, h, images.encode(frames[fi], out_fmt))
            for fi in range(0, len(frames), every_n)
        ]
    return rows_batch(rows, FRAME_SAMPLE_SCHEMA)


def sample_video_frames(
    df: DataFrame, every_n: int = 30, out_fmt: str = "png",
) -> DataFrame:
    """REAL frame sampling over the rawvid container: every ``every_n``-th
    frame is extracted and re-encoded with the image codec (png/raw/q6 —
    actual pixels, tzengine.images). Foreign containers raise
    NotImplementedError (standard video codecs absent — explicit)."""
    return map_batches(
        df.select("video_id", "bytes"), video_frames_batch,
        FRAME_SAMPLE_SCHEMA, every_n, out_fmt,
    )


def phash_neardup_pairs(
    df: DataFrame, id_col: str = "image_id", phash_col: str = "phash",
    max_dist: int = 3,
) -> DataFrame:
    """Image near-dup pairs on the 64-bit perceptual hash — the image-axis
    analogue of SimHash text dedup: (max_dist+1)-block pigeonhole
    bucketing (lossless for every max_dist) → bucket equi-join → exact
    bit_count verify. All JVM-side."""
    from .dedup import hamming_block_pairs

    return hamming_block_pairs(df, id_col, phash_col, max_dist)
